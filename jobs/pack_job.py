"""spark-submit entry point for the tokenize-and-pack handoff.

The final step of the training-data pipeline: turn a (curated)
documents table into fixed-length packed token shards a pretraining
data loader memory-maps. Composes the lm operators end to end:

1. vocabulary   — top-k tokens by corpus count (lm.vocab_topk;
                  deterministic count-desc/token-asc order, id 0=UNK);
2. placement    — global token offsets via the distributed exclusive
                  prefix sum (lm.global_prefix_sum — never a
                  single-partition exchange over data);
3. assembly     — every token lands in block gpos div seq_len; blocks
                  aggregate their ordered id arrays (ONE hash shuffle
                  of the token stream — the unavoidable cost of
                  packing; per-block state bounded by --seq-len);
4. shards       — blocks written range-partitioned by block_id, so
                  shard files are contiguous block ranges (the
                  data-loader's sequential-read layout); the vocab is
                  written next to them (tok, token_id, n).

Every step is deterministic: same corpus → identical BLOCK CONTENTS
(block_id → token_ids, the property pack_blocks' ids_md5 oracle pins)
on any cluster size. The parquet file boundaries are NOT byte-stable
across cluster sizes — repartitionByRange sampling depends on the
partition count — only the logical blocks are.

    spark-submit --py-files dist/pero_ocr_api_spark.zip \\
        jobs/pack_job.py --documents s3://b/docs --kept s3://b/kept_ids \\
        --output s3://b/packed
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--documents", required=True, help="documents table path")
    p.add_argument(
        "--kept",
        default=None,
        help="optional kept doc_id table (curate_job output) to filter by",
    )
    p.add_argument("--output", required=True, help="packed shards path")
    p.add_argument("--vocab-k", type=int, default=4096)
    p.add_argument("--seq-len", type=int, default=2048)
    p.add_argument("--cores", type=int, default=None, help="local mode only")
    args = p.parse_args(argv)
    if args.vocab_k < 1 or args.seq_len < 1:
        p.error("--vocab-k and --seq-len must be positive")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.getActiveSession()
    if spark is None:
        from pero_ocr_api_spark.session import get_spark

        spark = get_spark(app_name="pack_job", cores=args.cores)

    from pero_ocr_api_spark.operators.lm import assemble_blocks, vocab_topk
    from pero_ocr_api_spark.session import cache, cache_scope

    t0 = time.monotonic()
    docs = spark.read.parquet(args.documents).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    if args.kept:
        docs = docs.join(
            spark.read.parquet(args.kept).select("doc_id"), "doc_id"
        )
    n_docs = docs.count()

    # the vocab cache is freed when the block ends, also on a raise
    with cache_scope():
        vocab = cache(vocab_topk(docs, k=args.vocab_k))
        blocks = assemble_blocks(docs, vocab, args.seq_len)
        # contiguous block ranges per shard file — the sequential-read
        # layout a data loader expects
        blocks.repartitionByRange("block_id").write.mode("overwrite").parquet(
            args.output
        )
        vocab.write.mode("overwrite").parquet(args.output + "_vocab")

        back = spark.read.parquet(args.output)
        stats = back.agg(
            F.count("*").alias("n_blocks"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_unk").alias("n_unk"),
            F.max("block_id").alias("max_block"),
        ).collect()[0]
    print(
        json.dumps(
            {
                "input_docs": n_docs,
                "n_blocks": stats["n_blocks"],
                "n_tokens": int(stats["n_tokens"] or 0),
                "unk_rate_pct": round(
                    100.0 * (stats["n_unk"] or 0) / max(stats["n_tokens"] or 1, 1), 3
                ),
                "seq_len": args.seq_len,
                "vocab_k": args.vocab_k,
                "wall_sec": round(time.monotonic() - t0, 2),
                "output": args.output,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
