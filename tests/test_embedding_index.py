"""Persistent embedding-ANN band index: the embedding runs of the
checks in tests/test_band_index.py (idempotent build, batch-only
shuffle on candidate lookup, no self pairs, empty first build, CLI),
plus batch vs streaming parity — completing the embedding family's
production triangle (self-join → index → incremental)."""

from __future__ import annotations

import tempfile
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from pero_ocr_api_spark.operators import similarity
from tests.test_band_index import (
    DIM,
    EMBEDDING,
    check_build_dedup_index_job_cli,
    check_candidates_match_fresh_join,
    check_empty_first_build_creates_table,
    check_idempotent_and_incremental,
    check_join_shuffles_batch_only,
    check_retried_batch_emits_no_self_pairs,
    vec as _vec,
)

T0 = datetime(2024, 1, 1, 0, 0, 0)


def _corpus_rows(n: int = 30):
    return [(i, _vec(i)) for i in range(n)]


def _emb_df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def test_embedding_index_idempotent_and_incremental(spark):
    check_idempotent_and_incremental(spark, EMBEDDING, "emb_index_test1")


def test_embedding_index_candidates_match_fresh_join(spark):
    check_candidates_match_fresh_join(spark, EMBEDDING, "emb_index_test2")


def test_embedding_index_join_shuffles_batch_only(spark):
    check_join_shuffles_batch_only(spark, EMBEDDING, "emb_index_test3")


def test_retried_embedding_batch_emits_no_self_pairs(spark):
    check_retried_batch_emits_no_self_pairs(spark, EMBEDDING, "emb_index_retry")


def test_empty_first_embedding_build_creates_table(spark):
    check_empty_first_build_creates_table(spark, EMBEDDING, "emb_index_empty")


def test_build_dedup_index_job_cli_embeddings(spark, tmp_path):
    check_build_dedup_index_job_cli(spark, EMBEDDING, "emb_index_test_cli", tmp_path)


def test_stream_replayed_corpus_vectors_emit_no_self_pairs(spark):
    """A replayed stream file whose vectors are already in the corpus
    index must not emit (X, X) self-duplicates — a keep-list consumer
    would drop every retried doc (the self-pair filter of
    plans.io.band_candidates)."""
    from pero_ocr_api_spark.streaming.pipeline import (
        stream_incremental_embedding_dedup,
    )

    corpus = _emb_df(spark, _corpus_rows(6))
    d = tempfile.mkdtemp()
    schema = "vec_id long, ts timestamp, embedding array<float>"
    replay = [
        (i, T0 + timedelta(seconds=i), _vec(i)) for i in range(6)
    ]
    spark.createDataFrame(replay, schema).coalesce(1).write.parquet(f"{d}/in")
    sq = (
        stream_incremental_embedding_dedup(spark, f"{d}/in", corpus, DIM)
        .writeStream.format("memory")
        .queryName("emb_replay_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(240)
    got = {
        (r.vec_id, r.corpus_id)
        for r in spark.sql("select * from emb_replay_out").collect()
    }
    assert all(v != c for v, c in got), got


def test_stream_incremental_embedding_dedup_matches_batch(spark):
    """Streamed new vectors vs a static corpus index: the emitted
    (vec, corpus) near-dup verdicts must equal the batch band-join +
    exact-cosine verify on the same inputs."""
    from pero_ocr_api_spark.streaming.pipeline import (
        stream_incremental_embedding_dedup,
    )

    corpus = _emb_df(spark, _corpus_rows(10))
    d = tempfile.mkdtemp()
    schema = "vec_id long, ts timestamp, embedding array<float>"
    new_rows = [
        (1000, T0, [x * 1.1 for x in _vec(0)]),  # twin of corpus 0
        (1001, T0 + timedelta(seconds=1), [(-1.0) ** d * 7.5 for d in range(DIM)]),
    ]
    spark.createDataFrame(new_rows, schema).coalesce(1).write.parquet(f"{d}/in")

    sq = (
        stream_incremental_embedding_dedup(spark, f"{d}/in", corpus, DIM)
        .writeStream.format("memory")
        .queryName("emb_incr_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(240)
    got = {
        (r.vec_id, r.corpus_id)
        for r in spark.sql("select * from emb_incr_out").collect()
    }

    # batch twin on the same inputs
    batch = spark.createDataFrame(
        [(i, v) for i, _, v in new_rows], "vec_id long, embedding array<float>"
    )

    def nb(df, alias):
        e = similarity._with_norm(df).select("vec_id", "v", "norm")
        bands = e.select(
            F.col("vec_id").alias(alias),
            F.explode(
                similarity.bucket_struct_col(
                    F.col("v"),
                    DIM,
                    similarity.ANN_SELF_TABLES,
                    similarity.ANN_SELF_PLANES,
                )
            ).alias("b"),
        ).select(alias, "b.t", "b.bucket")
        return e, bands

    be, bb = nb(batch, "batch_id")
    ce, cb = nb(corpus, "corpus_id")
    cand = bb.join(cb, ["t", "bucket"]).select("batch_id", "corpus_id").distinct()
    cos = similarity.dot_col(F.col("v1"), F.col("v2")) / (
        F.col("n1") * F.col("n2")
    )
    expected = {
        (r.batch_id, r.corpus_id)
        for r in cand.join(
            be.select(
                F.col("vec_id").alias("batch_id"),
                F.col("v").alias("v1"),
                F.col("norm").alias("n1"),
            ),
            "batch_id",
        )
        .join(
            ce.select(
                F.col("vec_id").alias("corpus_id"),
                F.col("v").alias("v2"),
                F.col("norm").alias("n2"),
            ),
            "corpus_id",
        )
        .filter(cos >= 0.999)
        .collect()
    }
    assert got == expected
    assert (1000, 0) in got  # the constructed twin is flagged
    assert all(v != 1001 for v, _ in got)  # novel vector passes clean
