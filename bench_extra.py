"""Round-6 optimization harness (NOT the driver contract — bench.py is
frozen; this file exists so per-query work can be isolated, re-run and
plan-dumped without touching the measured entry point).

Usage:
  python bench_extra.py [query ...]            # time listed queries
  python bench_extra.py --explain [query ...]  # dump plans to plans/r06/
  python bench_extra.py --all                  # whole headline suite

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default all), RUNS (default 2, min quoted — the
bench.py estimator), EXPLAIN_SUFFIX (default "after").

Methodology mirrors bench.py's _run_query_suite: one warm session,
regex/codegen warm-up, each query timed RUNS times back-to-back with
min quoted (host interference is one-sided — see bench.py), action is
.count() (same as the frozen suite) unless NOOP=1 (guide §1.4 noop
sink — computes every column).
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    runs = int(os.environ.get("RUNS", "2"))
    noop = os.environ.get("NOOP", "0") == "1"
    args = [a for a in sys.argv[1:]]
    do_explain = "--explain" in args
    args = [a for a in args if not a.startswith("--")]

    from pero_ocr_api_spark.plans.queries import QUERIES
    from pero_ocr_api_spark.plans.queries_textops import _ivf_cents
    from pero_ocr_api_spark.session import get_spark, stop_spark

    if "--all" in sys.argv[1:] or not args:
        import bench

        names = list(bench.HEADLINE_QUERIES)
    else:
        names = args

    stop_spark()  # also releases the cache registry
    spark = get_spark(app_name="bench_extra", cores=cpus, shuffle_partitions=cpus)

    # same warm-up as bench.py:_run_query_suite
    from pero_ocr_api_spark.operators.dedup import minhash_signatures, winnow_col
    from pero_ocr_api_spark.sources.tables import read_table
    from pyspark.sql import functions as F

    warm_docs = read_table(spark, sf, "documents").limit(50)
    warm_docs.select(
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+"), F.lit(0)))
    ).count()
    minhash_signatures(warm_docs).count()
    warm_docs.select(F.size(winnow_col(F.col("text")))).count()
    _ivf_cents(spark, sf).count()

    if do_explain:
        suffix = os.environ.get("EXPLAIN_SUFFIX", "after")
        os.makedirs("plans/r06", exist_ok=True)
        for name in names:
            df = QUERIES[name][0](spark, sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = f"plans/r06/{name}_{suffix}.txt"
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path}")
        os._exit(0)

    secs: dict[str, list[float]] = {}
    for name in names:
        fn = QUERIES[name][0]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        walls = []
        for _ in range(runs):
            t0 = time.monotonic()
            df = fn(spark, sf)
            if noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            walls.append(round(time.monotonic() - t0, 3))
        secs[name] = walls
        print(f"{name}: min={min(walls)} samples={walls}", flush=True)
    print(json.dumps({k: min(v) for k, v in secs.items()}))
    print(json.dumps({"total_min": round(sum(min(v) for v in secs.values()), 3)}))
    os._exit(0)


if __name__ == "__main__":
    main()
