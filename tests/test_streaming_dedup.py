"""Streaming exact dedup: first-seen doc per fingerprint survives,
in-watermark duplicates are dropped."""

from __future__ import annotations

import tempfile
from datetime import datetime, timedelta

from pero_ocr_api_spark.streaming.pipeline import stream_exact_dedup

T0 = datetime(2024, 1, 1, 0, 0, 0)


def test_stream_exact_dedup(spark):
    d = tempfile.mkdtemp()
    schema = "doc_id string, ts timestamp, text string"
    # batch 1: two originals + one duplicate (same text, later ts)
    spark.createDataFrame(
        [
            ("a", T0, "alpha beta gamma"),
            ("b", T0 + timedelta(seconds=1), "delta epsilon"),
            ("a_dup", T0 + timedelta(seconds=2), "Alpha  beta   GAMMA"),
        ],
        schema,
    ).coalesce(1).write.parquet(f"{d}/in")
    # batch 2: another duplicate of 'a' + a fresh doc
    spark.createDataFrame(
        [
            ("a_dup2", T0 + timedelta(seconds=30), "alpha beta gamma"),
            ("c", T0 + timedelta(seconds=31), "zeta eta theta"),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(f"{d}/in")

    sq = (
        stream_exact_dedup(spark, f"{d}/in", watermark_delay="10 minutes")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(240)
    kept = {r.doc_id for r in spark.sql("select * from dedup_out").collect()}
    # normalization folds case/whitespace → a_dup and a_dup2 collapse on a
    assert "a" in kept and "b" in kept and "c" in kept
    assert "a_dup" not in kept and "a_dup2" not in kept


def test_stream_near_dedup(spark):
    """Simhash near-dup suppression: a lightly-edited re-crawl (same
    vocabulary, tiny edit) collapses to the original's signature and
    is dropped; genuinely different docs survive."""
    from pero_ocr_api_spark.streaming.pipeline import stream_near_dedup

    d = tempfile.mkdtemp()
    schema = "doc_id string, ts timestamp, text string"
    base = (
        "the quick brown fox jumps over the lazy dog while seven "
        "wizards brew black quartz potions at dawn in the old tower"
    )
    spark.createDataFrame(
        [
            ("a", T0, base),
            # near-dup: same token multiset, reordered tail — simhash is
            # order-free over distinct tokens, so signature is identical
            ("a_near", T0 + timedelta(seconds=5), base + " the"),
            ("b", T0 + timedelta(seconds=6), "completely different text about spark physical plans and shuffle exchanges"),
        ],
        schema,
    ).coalesce(1).write.parquet(f"{d}/in")

    sq = (
        stream_near_dedup(spark, f"{d}/in", watermark_delay="10 minutes")
        .writeStream.format("memory")
        .queryName("near_dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(240)
    rows = {r.doc_id: r.simhash for r in spark.sql("select * from near_dedup_out").collect()}
    assert "a" in rows and "b" in rows
    assert "a_near" not in rows  # identical signature within watermark
    assert rows["a"] != rows["b"]


def test_minhash_signature_col_matches_groupby_path(spark):
    """The per-row (streaming-safe) signature must be bit-identical to
    the explode+groupBy batch signature for the same text."""
    from pyspark.sql import functions as F

    from pero_ocr_api_spark.operators import dedup

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven eight"),
            (3, "short"),
        ],
        "doc_id long, text string",
    )
    batch = {
        r.doc_id: r.signature
        for r in dedup.minhash_signatures(df).collect()
    }
    perrow = {
        r.doc_id: r.signature
        for r in df.select(
            "doc_id", dedup.minhash_signature_col(F.col("text")).alias("signature")
        ).collect()
    }
    assert batch == perrow


def test_stream_incremental_dedup_matches_batch(spark):
    """Streamed new docs vs a static corpus: the emitted (doc, corpus)
    near-dup verdicts must equal the batch band-join + Jaccard-verify
    on the same inputs."""
    import tempfile

    from pyspark.sql import functions as F

    from pero_ocr_api_spark.operators import dedup
    from pero_ocr_api_spark.streaming.pipeline import stream_incremental_dedup

    corpus = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),
            (11, "completely different corpus sentence about spark plans"),
            (12, "another unrelated corpus document mentioning benchmarks"),
        ],
        "doc_id long, text string",
    )
    d = tempfile.mkdtemp()
    schema = "doc_id string, ts timestamp, text string"
    newdocs = [
        # near-twin of corpus doc 10 (suffix mutation)
        ("n1", T0, "the quick brown fox jumps over the lazy dog today extra"),
        # fresh doc, no corpus match
        ("n2", T0 + timedelta(seconds=1), "totally novel ingest content words"),
    ]
    spark.createDataFrame(newdocs, schema).coalesce(1).write.parquet(f"{d}/in")

    sq = (
        stream_incremental_dedup(spark, f"{d}/in", corpus)
        .writeStream.format("memory")
        .queryName("incr_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(240)
    got = {
        (r.doc_id, r.corpus_id)
        for r in spark.sql("select * from incr_out").collect()
    }

    # batch twin on the same inputs
    batch_df = spark.createDataFrame(newdocs, schema).select("doc_id", "text")
    b_bands = dedup.lsh_bands_df(dedup.minhash_signatures(batch_df))
    c_bands = dedup.lsh_bands_df(dedup.minhash_signatures(corpus))
    cand = (
        b_bands.join(
            c_bands.select(
                F.col("doc_id").alias("corpus_id"), "band_idx", "band_hash"
            ),
            ["band_idx", "band_hash"],
        )
        .select("doc_id", "corpus_id")
        .distinct()
    )
    jac = dedup.jaccard_col(F.col("sh1"), F.col("sh2"))
    expected = {
        (r.doc_id, r.corpus_id)
        for r in cand.join(
            batch_df.select(
                "doc_id", dedup.shingles_col(F.col("text")).alias("sh1")
            ),
            "doc_id",
        )
        .join(
            corpus.select(
                F.col("doc_id").alias("corpus_id"),
                dedup.shingles_col(F.col("text")).alias("sh2"),
            ),
            "corpus_id",
        )
        .filter(jac >= 0.3)
        .collect()
    }
    assert got == expected
    assert ("n1", 10) in got  # the constructed near-twin is flagged
    assert all(doc != "n2" for doc, _ in got)  # fresh doc passes clean


def test_stream_replayed_corpus_docs_emit_no_self_pairs(spark):
    """A replayed stream file whose docs are already in the corpus
    index must not emit (X, X) self-duplicates — a keep-list consumer
    would drop every retried doc (the self-pair filter of
    plans.io.band_candidates). The stream's doc_id is a string and the
    corpus keys it as a long, so the ids compare as strings, here as
    in the filter (in Python '10' != 10 always holds)."""
    from pero_ocr_api_spark.streaming.pipeline import stream_incremental_dedup

    texts = {
        10: "the quick brown fox jumps over the lazy dog today",
        # a genuine near-twin of doc 10 inside the corpus
        11: "the quick brown fox jumps over the lazy dog today extra",
        12: "another unrelated corpus document mentioning benchmarks",
    }
    corpus = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    d = tempfile.mkdtemp()
    replay = [
        (str(i), T0 + timedelta(seconds=k), t)
        for k, (i, t) in enumerate(sorted(texts.items()))
    ]
    spark.createDataFrame(
        replay, "doc_id string, ts timestamp, text string"
    ).coalesce(1).write.parquet(f"{d}/in")
    sq = (
        stream_incremental_dedup(spark, f"{d}/in", corpus)
        .writeStream.format("memory")
        .queryName("text_replay_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(240)
    got = {
        (r.doc_id, r.corpus_id)
        for r in spark.sql("select * from text_replay_out").collect()
    }
    assert all(str(doc) != str(c) for doc, c in got), got
    assert ("10", 11) in got  # real near-twins are still flagged
