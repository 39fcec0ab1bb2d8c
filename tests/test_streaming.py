"""Streaming front-end: micro-batch extraction equals the batch run."""

from __future__ import annotations

import tempfile

import pytest

from pyspark.sql import functions as F

from pero_ocr_api_spark.plans.extract import run_extract, text_path
from pero_ocr_api_spark.streaming.pipeline import stream_clean_text, stream_extract


@pytest.fixture(scope="module")
def staged(spark, docs_df, media_df):
    d = tempfile.mkdtemp(prefix="stream_test_")
    # several input files → several micro-batches under maxFilesPerTrigger
    docs_df.repartition(6).write.parquet(f"{d}/docs")
    return d


def _span_hash(df):
    return (
        df.select(
            F.md5(
                F.concat_ws(
                    "|", "doc_id", F.to_json("spans"), "state",
                    F.coalesce(F.col("score").cast("string"), F.lit("")),
                ).cast("binary")
            ).alias("h")
        )
        .agg(F.sort_array(F.collect_list("h")).alias("hs"))
        .first()[0]
    )


def test_stream_extract_matches_batch(spark, docs_df, media_df, staged):
    q = stream_extract(
        spark,
        f"{staged}/docs",
        media_df,
        f"{staged}/out",
        f"{staged}/ckpt",
    )
    q.awaitTermination(300)
    streamed = spark.read.parquet(f"{staged}/out/batch_id=*")
    batch, _ = run_extract(spark, docs_df, media_df, run_id="batchref")
    assert streamed.count() == batch.count()
    assert _span_hash(streamed) == _span_hash(batch)


def test_stream_clean_text_rows(spark, docs_df, staged, corpus_pandas):
    out_rows = []
    sq = (
        stream_clean_text(spark, f"{staged}/docs")
        .writeStream.format("memory")
        .queryName("cleaned_spans")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(300)
    got = spark.sql("select * from cleaned_spans")
    docs_pdf, _ = corpus_pandas
    expected = sum(
        1 for _, d in docs_pdf.iterrows() for s in d["spans"] if s["kind"] != "media"
    )
    assert got.count() == expected
    # boilerplate is stripped in-flight
    assert got.filter(F.col("text").contains("var tracker")).count() == 0
    # the stream runs the batch text path: same rows for the same docs
    spans = docs_df.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.offset"
    )
    batch = text_path(spans).select("doc_id", "offset", "kind", "text")
    assert sorted(got.collect()) == sorted(batch.collect())


def test_stream_user_sessions_matches_batch(spark):
    """session_window sessionization must agree with the batch
    gaps-and-islands query on per-user session counts and event
    totals (complete mode so end-of-stream sessions are emitted)."""
    import shutil

    from pero_ocr_api_spark.plans.queries_events import q_user_sessions
    from pero_ocr_api_spark.streaming.pipeline import stream_user_sessions

    sf = "/root/testdata/sf0.001"
    d = tempfile.mkdtemp(prefix="stream_sess_")
    spark.read.parquet(f"{sf}/events.parquet").repartition(5).write.parquet(
        f"{d}/events.parquet"
    )
    # the staged files replay in arbitrary (non-event-time) order, so
    # the watermark must span the whole corpus or replayed-late events
    # are dropped; a live deployment ingests roughly in order and runs
    # the default 1 h delay
    q = (
        stream_user_sessions(spark, f"{d}/events.parquet", watermark_delay="31 days")
        .writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("sessions_stream")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("total_events"),
            F.sum("n_purchases").alias("total_purchases"),
        )
    )
    exp = (
        q_user_sessions(spark, sf)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("total_events"),
            F.sum("n_purchases").alias("total_purchases"),
        )
    )
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0
    shutil.rmtree(d, ignore_errors=True)


def test_stream_attribution_candidates_matches_batch(spark):
    """Stream-stream time-range join == the batch range join on the
    same data (replayed files, corpus-spanning watermark)."""
    import shutil

    from pero_ocr_api_spark.streaming.pipeline import (
        stream_attribution_candidates,
    )

    sf = "/root/testdata/sf0.001"
    d = tempfile.mkdtemp(prefix="stream_attr_")
    spark.read.parquet(f"{sf}/events.parquet").repartition(5).write.parquet(
        f"{d}/events.parquet"
    )
    q = (
        stream_attribution_candidates(
            spark, f"{d}/events.parquet", watermark_delay="31 days"
        )
        .writeStream.format("memory")
        .queryName("attr_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("attr_stream")

    e = spark.read.parquet(f"{sf}/events.parquet")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    exp = p.join(
        c,
        F.expr(
            "p_user = c_user AND c_ts <= p_ts "
            "AND c_ts >= p_ts - interval 2 hours"
        ),
    ).select("purchase_id", "click_id")
    assert got.count() > 0
    assert got.select("purchase_id", "click_id").exceptAll(exp).count() == 0
    assert exp.exceptAll(got.select("purchase_id", "click_id")).count() == 0
    shutil.rmtree(d, ignore_errors=True)
