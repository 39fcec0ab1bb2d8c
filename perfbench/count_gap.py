"""How much work ``.count()`` hides, and how much of a query's time is work.

Usage, from the repository root:

    python3 perfbench/count_gap.py --seed 1 --repeats 3 [query names]

For each named query (default: the suite), and for the extract pipeline on the raster
corpus, times ``df.count()`` (how bench.py times) against writing every
column (noop sink for queries, ``write_extracted`` for extract), after
one warm-up of each. Queries are also written in full over tables of
``1/SMALL_DIVISOR`` the suite's rows: ``work_share`` is
``1 - small_s / full_s``, the share of a query's time that grows with
its input rather than the fixed cost of planning and launching jobs.
The forms alternate and each is reported as the median of
``--repeats`` samples. Prints one JSON line per operation.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import host, run, spec  # noqa: E402
from perfbench.tables import write_tables  # noqa: E402

SMALL_DIVISOR = 20


def _gap(name: str, forms: dict, repeats: int) -> dict:
    """Median wall seconds of each form (name -> callable), alternating."""
    for fn in forms.values():
        fn()
    walls = {k: [] for k in forms}
    for _ in range(repeats):
        for k, fn in forms.items():
            walls[k].append(host.timed(fn)[1])
    row = {"op": name, **{f"{k}_s": statistics.median(w) for k, w in walls.items()}}
    row["full_over_count"] = row["full_s"] / row["count_s"]
    if "small_s" in row:
        row["work_share"] = 1.0 - row["small_s"] / row["full_s"]
    return row


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("queries", nargs="*", help="registry names (default: the query suite)")
    args = ap.parse_args()

    from perfbench.extract_bench import ExtractWorkload
    from perfbench.query_bench import QueryWorkload

    work = os.path.join(run.WORK_ROOT, f"count-gap-{os.getpid()}")
    run.prepare_env(work)
    spark = run.start_session("count-gap", host.host_cores(), host.driver_heap_mb(), work)
    try:
        from pero_ocr_api_spark.plans.extract import release_run, run_extract
        from pero_ocr_api_spark.plans.io import write_extracted
        from pero_ocr_api_spark.plans.queries import QUERIES

        qw = QueryWorkload(args.seed, os.path.join(work, "q"))
        qw.generate()
        small_dir = os.path.join(work, "q-small")
        write_tables(small_dir, args.seed, {t: n // SMALL_DIVISOR for t, n in spec.TABLE_ROWS.items()})

        def noop(build, sf_dir):
            return lambda: build(spark, sf_dir).write.format("noop").mode("overwrite").save()

        for name in args.queries or spec.QUERY_SUITE:
            build = QUERIES[name][0]
            try:
                row = _gap(
                    name,
                    {
                        "count": lambda: build(spark, qw.sf_dir).count(),
                        "full": noop(build, qw.sf_dir),
                        "small": noop(build, small_dir),
                    },
                    args.repeats,
                )
            except Exception as e:  # e.g. a query over a table the suite does not generate
                row = {"op": name, "error": repr(e)[:200]}
            print(json.dumps(row), flush=True)

        ew = ExtractWorkload(args.seed, os.path.join(work, "x"), host.host_cores())
        ew.generate()
        ew.stage(spark)
        runs = iter(range(10**6))

        def count():
            run_id = f"c{next(runs)}"
            extracted, _ = run_extract(spark, ew.docs_df, ew.media_df, run_id=run_id)
            extracted.count()
            release_run(run_id)

        def full():
            run_id = f"f{next(runs)}"
            extracted, _ = run_extract(spark, ew.docs_df, ew.media_df, run_id=run_id)
            write_extracted(spark, extracted, os.path.join(work, run_id))
            release_run(run_id)

        print(json.dumps(_gap("extract-raster", {"count": count, "full": full}, args.repeats)), flush=True)
    finally:
        run.stop_session(spark)
        run.stop_gateway()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
