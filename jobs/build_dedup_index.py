"""spark-submit entry point for building the persistent LSH band
index — the corpus-hashed-ONCE artifact every incremental dedup run
(batch `incremental_dedup`, `streaming.stream_incremental_dedup`,
`jobs/curate_job.py` daily drops) joins instead of re-hashing the
10^12-document corpus.

The output table is bucketed by the join key (band_idx, band_hash)
(Iceberg analog: `bucket(N, band_hash)` partition transform), so a
candidate lookup scans the index already hash-partitioned and only
the new batch shuffles. Re-runs are idempotent: already-indexed
doc_ids are anti-joined away (MERGE analog), so a crashed build is
re-submitted as-is.

Prints a one-line JSON report: docs indexed this run, band rows,
bucket layout, and the bucket-skew diagnostics a 100 TB operator
watches (max bucket population, number of buckets above the
clique→star cap — those buckets will be star-collapsed by every
consumer, so a growing count means the corpus's boilerplate cluster
is growing).

    spark-submit --py-files dist/pero_ocr_api_spark.zip \\
        jobs/build_dedup_index.py \\
        --documents s3://bucket/documents --table dedup_band_index \\
        --path s3://bucket/dedup_band_index

``--embeddings <path> --dim N`` builds the EMBEDDING twin instead
(sign-LSH ANN bands over (vec_id, embedding), bucketed by (t, bucket)
— plans/io.write_band_index with EMBEDDING_BANDS), the index behind
``incremental_embedding_dedup`` and
``streaming.stream_incremental_embedding_dedup``.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    g = p.add_mutually_exclusive_group(required=True)
    g.add_argument("--documents", help="documents table path (text index)")
    g.add_argument(
        "--embeddings",
        help="embeddings table path (ANN sign-LSH index over vec_id, "
        "embedding — the embedding twin: plans/io.EMBEDDING_BANDS)",
    )
    p.add_argument(
        "--dim",
        type=int,
        default=None,
        help="embedding dimensionality (required with --embeddings)",
    )
    p.add_argument("--table", required=True, help="index table name")
    p.add_argument("--path", default=None, help="external table location")
    p.add_argument("--buckets", type=int, default=16)
    p.add_argument("--cores", type=int, default=None)
    args = p.parse_args(argv)
    if args.embeddings and args.dim is None:
        p.error("--embeddings requires --dim")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.getActiveSession()
    if spark is None:
        from pero_ocr_api_spark.session import get_spark

        spark = get_spark(app_name="build_dedup_index", cores=args.cores)

    from pero_ocr_api_spark.operators.dedup import MAX_BUCKET
    from pero_ocr_api_spark.plans.io import (
        EMBEDDING_BANDS,
        TEXT_BANDS,
        write_band_index,
    )

    family = EMBEDDING_BANDS if args.embeddings else TEXT_BANDS
    n_new = write_band_index(
        spark,
        spark.read.parquet(args.embeddings or args.documents),
        args.table,
        family,
        dim=args.dim,
        path=args.path,
        buckets=args.buckets,
    )

    idx = spark.table(args.table)
    sizes = idx.groupBy(*family.key_cols).agg(F.count("*").alias("n"))
    skew = sizes.agg(
        F.count("*").alias("buckets_populated"),
        F.max("n").alias("max_bucket"),
        F.sum(F.when(F.col("n") > MAX_BUCKET, 1).otherwise(0)).alias(
            "buckets_over_cap"
        ),
    ).collect()[0]

    report = {
        "family": "embedding" if args.embeddings else "text",
        "docs_indexed": n_new,
        "band_rows": idx.count(),
        "buckets": args.buckets,
        "lsh_buckets_populated": skew.buckets_populated,
        "max_lsh_bucket": skew.max_bucket,
        "lsh_buckets_over_cap": int(skew.buckets_over_cap or 0),
        "cap": MAX_BUCKET,
    }
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
