"""Benchmark of the extraction pipeline and the query registry.

Usage, from the repository root:

    python3 perfbench/run.py --workload extract-raster --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Each workload runs in a fresh local Spark session on at most
``host.MAX_CORES`` cores with a driver heap sized from /proc/meminfo.
Set-up (session start, seeded input generation and staging, one
warm-up run) is timed as ``setup_s``; then closed-loop runs repeat
until ``--seconds`` have passed, and the output of every run is
checked against a single-process reference (extract) or the DuckDB
twin (queries), outside the timed region. ``--trace 1`` adds the
per-layer decomposition (trace.py, extract_bench.py, query_bench.py).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the exit code
is non-zero when any output check failed. Every process the run starts
has ended when it exits, SIGTERM included. Everything the run writes
goes under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {"ops_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    from perfbench import spec
    from perfbench.trace import DECODE_KINDS

    units = {
        "session.start_s": "s",
        "host.cores": "count",
        "host.heap_mb": "MB",
        "host.steal_share": "ratio",
        "extract.plan_build.s": "s",
        "extract.explode.s": "s",
        "extract.text_path.s": "s",
        "extract.text_path.rows": "count",
        "extract.media_join.s": "s",
        "extract.media_join.shuffle_bytes": "bytes",
        "extract.arrow_hop.s": "s",
        "extract.media_path.s": "s",
        "extract.partition_wall_ms.max_over_p50": "ratio",
        "kernel.pages": "count",
        "kernel.failed_pages": "count",
        "kernel.page_ms.p50": "ms",
        "kernel.page_ms.max": "ms",
        "kernel.single_process_pages_per_s": "1/s",
    }
    for kind in DECODE_KINDS:
        units[f"kernel.decode.{kind}.ms"] = "ms"
        units[f"kernel.decode.{kind}.pages"] = "count"
    units.update(
        {
            "kernel.layout.self_ms": "ms",
            "kernel.glyphs.ms": "ms",
            "kernel.glyphs.lines": "count",
            "kernel.exports.ms": "ms",
            "restitch.s": "s",
            "restitch.shuffle_bytes": "bytes",
            "io.write.s": "s",
            "io.write.rows": "count",
            "io.write.bytes": "bytes",
            "io.resume_anti_join.s": "s",
        }
    )
    for name in spec.QUERY_SUITE:
        units[f"query.{name}.s"] = "s"
    units.update(
        {
            "queries.shuffle_bytes": "bytes",
            "queries.spill_bytes": "bytes",
            "queries.cached_bytes_after": "bytes",
            "trace.overhead_share": "ratio",
            "trace.layer_share": "ratio",
        }
    )
    return units


def prepare_env(work: str) -> None:
    """Temporary files of the benchmark and its workers go under ``work``.

    ``SPARK_LOCAL_DIRS`` is left alone, so Spark's shuffle and spill
    files go where ``session.get_spark`` puts them by default."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_session(name: str, cores: int, heap_mb: int, work: str):
    from pero_ocr_api_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name=f"perfbench-{name}",
        cores=cores,
        extra_conf={
            "spark.driver.memory": f"{heap_mb}m",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    from pero_ocr_api_spark.plans.extract import release_all_runs

    release_all_runs()
    spark.catalog.clearCache()
    spark.stop()


def stop_gateway() -> None:
    """Stop the JVM the session launched and wait for it to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_workload(name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from perfbench import host
    from perfbench.extract_bench import ExtractWorkload
    from perfbench.query_bench import QueryWorkload
    from perfbench.trace import Tracer

    cores, heap_mb = host.host_cores(), host.driver_heap_mb()
    tracer = Tracer()
    spark, start_s = host.timed(start_session, name, cores, heap_mb, work)
    try:
        wl = QueryWorkload(seed, work) if name == "query-suite" else ExtractWorkload(seed, work, cores)
        wl.generate()
        if name != "query-suite":
            wl.stage(spark)
        wl.warm_up(spark)
        setup_s = start_s + sum(wl.setup_parts.values())

        walls, steals, batches, pass_walls, peaks_kb = [], [], [], [], []
        with host.RssSampler() as rss:
            rss.take()
            t0 = time.perf_counter()
            while True:
                if name == "query-suite":
                    s0, p0 = host.steal_ticks(), time.perf_counter()
                    q = wl.suite_pass(spark)
                    pass_walls.append(q)
                    walls.append(sum(q.values()))
                    steals.append(host.steal_fraction(s0, host.steal_ticks(), time.perf_counter() - p0))
                else:
                    b = wl.batch(spark, f"run{len(batches)}")
                    batches.append(b)
                    walls.append(b["wall_s"])
                    steals.append(b["steal"])
                peaks_kb.append(rss.take())
                if time.perf_counter() - t0 >= seconds:
                    break
        if name == "query-suite":
            # sum of each query's median over the passes: one slow
            # query in one pass does not move the figure
            median_wall = sum(
                statistics.median(p[q] for p in pass_walls) for q in pass_walls[0]
            )
        else:
            median_wall = statistics.median(walls)

        if name == "query-suite":
            attempted, failed = wl.check()
            n_ops = len(pass_walls[-1])
        else:
            wl.reference()
            attempted = failed = 0
            for b in batches:
                a, f = wl.check(spark, b)
                attempted, failed = attempted + a, failed + f
            n_ops = len(wl.docs)

        metrics = {
            "ops_per_s": n_ops / median_wall,
            "setup_s": setup_s,
            # median over the timed runs of each run's peak
            "peak_rss_mb": statistics.median(peaks_kb) / 1024,
        }
        layers = {}
        if trace:
            layers = dict.fromkeys(per_layer_units(), 0.0)
            if name == "query-suite":
                layers.update(wl.trace(spark, tracer, pass_walls, median_wall))
            else:
                layers.update(wl.trace(spark, tracer, batches, median_wall))
            layers.update(
                {
                    "session.start_s": start_s,
                    "host.cores": cores,
                    "host.heap_mb": heap_mb,
                    "host.steal_share": statistics.median(steals),
                }
            )
            tracer.dump(os.path.join(WORK_ROOT, f"trace-{name}-{seed}.json"))
    finally:
        stop_session(spark)

    print(
        f"perfbench: {name} seed={seed} cores={cores} heap_mb={heap_mb} ops={n_ops} runs={len(walls)} "
        f"walls_s={[round(w, 3) for w in walls]} steal={[round(s, 4) for s in steals]} "
        f"setup={ {k: round(v, 2) for k, v in {'session_s': start_s, **wl.setup_parts}.items()} } "
        f"warmup_walls_s={[round(w, 3) for w in getattr(wl, 'warmup_walls', [])]}"
    )
    return {
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "layers": layers,
        "suite_s": median_wall if name == "query-suite" else None,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pero_ocr_api_spark")):
        print(f"perfbench: no pero_ocr_api_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import host, spec

    names = spec.WORKLOADS if args.workload == "all" else (args.workload,)
    unknown = [n for n in names if n not in spec.WORKLOADS]
    if unknown:
        print(f"perfbench: unknown workload {unknown}; choose from {spec.WORKLOADS} or all", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    prepare_env(work)
    host.adopt_orphans()
    # a SIGTERM unwinds through the clean-up below instead of skipping it
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    out = {}
    try:
        for name in names:
            # each workload in its own JVM, started with its own heap
            try:
                out[name] = run_workload(name, args.seed, args.seconds, bool(args.trace), os.path.join(work, name))
            finally:
                stop_gateway()
    finally:
        # the JVM's Python workers, orphans re-parented here, the pool's
        # semaphore tracker: none outlives the run
        host.stop_descendants()
        shutil.rmtree(work, ignore_errors=True)

    units = per_layer_units()
    for name, r in out.items():
        lines = [f"{k}={v:.6g} {END_TO_END[k]}" for k, v in r["metrics"].items()]
        if r["suite_s"] is not None:
            lines.append(f"suite_s={r['suite_s']:.6g} s")
        else:
            lines.append(f"docs_per_s={r['metrics']['ops_per_s']:.6g} 1/s")
        lines.append(f"failed_share={r['failed'] / r['attempted']:.6g} ratio")
        print(f"perfbench: {name}: " + ", ".join(lines))
    correct = all(r["failed"] == 0 for r in out.values())

    def result(r: dict) -> dict:
        if args.trace:
            values = {k: (v, units[k]) for k, v in r["layers"].items()}
        else:
            values = {k: (v, END_TO_END[k]) for k, v in r["metrics"].items()}
        return {
            "correct": r["failed"] == 0,
            "attempted": r["attempted"],
            "failed": r["failed"],
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
        }

    if len(out) == 1:
        final = result(next(iter(out.values())))
    else:
        final = {"correct": correct, "workloads": {n: result(r) for n, r in out.items()}}
    print(json.dumps(final), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
