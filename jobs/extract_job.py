"""spark-submit entry point for the extraction pipeline.

Deployment per the north rule: a pure-Python package shipped with
``--py-files`` to a multi-executor cluster:

    python pero_ocr_api_spark/../scripts/package_pyfiles.py dist/
    spark-submit --py-files dist/pero_ocr_api_spark.zip \\
        jobs/extract_job.py \\
        --documents s3://bucket/documents --media s3://bucket/media \\
        --output s3://bucket/extracted --lineage s3://bucket/lineage \\
        --run-id nightly-2026-08-16 --resume

Also runnable directly on local mode (used by tests): ``python
jobs/extract_job.py --n-docs 200 ...`` generates the synthetic corpus
instead of reading input tables.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--documents", help="input documents table path")
    p.add_argument("--media", help="media blob table path")
    p.add_argument("--n-docs", type=int, help="generate a synthetic corpus instead")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--output", required=True)
    p.add_argument("--lineage", help="lineage table path (default <output>_lineage)")
    p.add_argument("--run-id", default=f"run-{int(time.time())}")
    p.add_argument("--resume", action="store_true", help="skip already-extracted doc_ids")
    p.add_argument(
        "--table-format",
        choices=["parquet", "iceberg"],
        default="parquet",
        help="iceberg: --output is a catalog table; sink is MERGE INTO",
    )
    p.add_argument("--min-confidence", type=float, default=None)
    p.add_argument("--cores", type=int, default=None, help="local mode only")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not args.documents and not args.n_docs:
        print("need --documents or --n-docs", file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        # local/dev path; under spark-submit the session comes
        # pre-configured from the cluster deploy
        from pero_ocr_api_spark.session import get_spark

        spark = get_spark(app_name="extract_job", cores=args.cores)

    from pero_ocr_api_spark.ocr import kernel
    from pero_ocr_api_spark.plans.extract import run_extract
    from pero_ocr_api_spark.plans.io import read_done_ids, write_extracted
    from pero_ocr_api_spark.session import cache_scope

    if args.n_docs:
        from pero_ocr_api_spark.corpus import generate_spark

        docs, media = generate_spark(spark, args.n_docs, seed=args.seed)
    else:
        docs = spark.read.parquet(args.documents)
        media = spark.read.parquet(args.media)

    resume_from = read_done_ids(spark, args.output) if args.resume else None
    lineage_path = args.lineage or f"{args.output.rstrip('/')}_lineage"
    t0 = time.monotonic()
    # the run's media cache is freed when the block ends, also on a raise
    with cache_scope("run", args.run_id):
        extracted, lineage = run_extract(
            spark,
            docs,
            media,
            min_confidence=(
                kernel.MIN_CONFIDENCE
                if args.min_confidence is None
                else args.min_confidence
            ),
            run_id=args.run_id,
            resume_from=resume_from,
        )
        # lineage first: writing the output refreshes every cache whose
        # plan reads the output path — the media cache sits behind the
        # resume anti-join — so a lineage read after it would re-run
        # the UDF against the full output and come back empty
        lineage.write.mode("append").parquet(lineage_path)
        written = write_extracted(
            spark, extracted, args.output, table_format=args.table_format
        )
    wall = time.monotonic() - t0
    print(
        json.dumps(
            {
                "run_id": args.run_id,
                "docs_written": written,
                "wall_sec": round(wall, 2),
                "docs_per_sec": round(written / wall, 2) if wall else None,
                "output": args.output,
                "lineage": lineage_path,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
