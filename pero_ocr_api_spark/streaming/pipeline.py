"""Structured Streaming front-end for the extraction pipeline.

The reference has no streaming engine — its "stream" is a 2 s HTTP
poll loop (``processing_client/run_client.py:290-340``) plus an
APScheduler cron (``app/__init__.py:32-35``). The north rule keeps
batch as the primary model (SURVEY.md §2.9); this module provides the
documented mapping for deployments that want a continuously-fed
documents table:

=============================  =====================================
reference mechanism            streaming analog here
=============================  =====================================
2 s poll loop                  micro-batch trigger (availableNow /
                               processingTime)
fair dequeue per poll          each micro-batch takes every new
                               document (per-tenant order: the
                               batch registry query ``fair_dequeue``)
60 s processing timeout (U6)   task retry + checkpoint replay; the
                               watchdog :func:`stream_timeout_requeue`
7-day expiry (U7)              the batch registry query
                               ``expiry_scan`` (cron)
upload_results per page        idempotent per-batch append
=============================  =====================================

Ten entry points, each returning the streaming DataFrame (or, for
:func:`stream_extract`, the running query) for the caller to sink:

* :func:`stream_clean_text` — fully streaming stateless plan (explode
  → the batch ``text_path`` → append sink). Shows the text path is
  streaming-compatible as-is (pure Catalyst expressions).
* :func:`stream_extract` — the complete pipeline via ``foreachBatch``:
  each micro-batch runs the same ``run_extract`` used in batch mode
  (media join + OCR UDF + doc_id stitch), writing parquet partitioned
  by batch id. ``foreachBatch`` is the idiomatic bridge when a plan
  needs multi-stage shuffles per batch; the streaming checkpoint
  provides exactly-once batch replay, and writes are idempotent per
  (batch_id) directory.
* event-log twins of batch queries: :func:`stream_event_window_counts`
  (windowed counts), :func:`stream_user_sessions` (``session_window``
  sessionizer) and :func:`stream_attribution_candidates` (bounded
  stream-stream join under the as-of attribution);
* dedup within the watermark: :func:`stream_exact_dedup` (md5
  fingerprint) and :func:`stream_near_dedup` (simhash signature);
* dedup against a corpus index: :func:`stream_incremental_dedup`
  (MinHash bands) and :func:`stream_incremental_embedding_dedup`
  (embedding buckets);
* :func:`stream_timeout_requeue` — the PROCESSING-timeout watchdog as
  a custom stateful operator (``applyInPandasWithState``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pero_ocr_api_spark.ocr.kernel import (
    STATE_INVALID_FILE,
    STATE_NOT_FOUND,
    STATE_PROCESSED,
    STATE_PROCESSING_FAILED,
)
from pero_ocr_api_spark.plans.extract import run_extract, text_path
from pero_ocr_api_spark.session import cache_scope
from pero_ocr_api_spark.sources.tables import DOCUMENTS_SCHEMA


def stream_clean_text(spark: SparkSession, input_path: str) -> DataFrame:
    """Streaming stateless text path: one cleaned row per text/html
    span. Returns the streaming DataFrame (caller attaches the sink)."""
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_path)
    )
    spans = stream.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.offset"
    )
    return text_path(spans).select("doc_id", "offset", "kind", "text")


EVENTS_STREAM_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def stream_event_window_counts(
    spark: SparkSession,
    input_path: str,
    window_duration: str = "1 hour",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """A5's statistics histogram as a streaming windowed aggregate
    with late-data handling: per (event-time window, type) counts,
    watermark bounds state (the 24 h scan becomes incremental).
    Append mode emits a window once the watermark passes its end —
    the streaming analog of the reference's daily/interval stats jobs
    (app/__init__.py:32-35)."""
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(input_path)
    )
    return (
        stream.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def stream_user_sessions(
    spark: SparkSession,
    input_path: str,
    gap: str = "6 hours",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming-native sessionization: Spark's ``session_window``
    merges events within the inactivity gap per user as state, emitting
    a session when the watermark passes its end — the incremental form
    of plans/queries_events.q_user_sessions (the batch gaps-and-islands
    plan). State per user is ONE open session (start/end/counters),
    evicted on emit — O(active users), not O(event history).

    Boundary semantics: ``session_window`` closes a session when the
    next event is >= gap after the previous, the batch query when it is
    > gap; events exactly ON the gap boundary differ. Real event-time
    data (microsecond stamps) never lands there; parity is asserted on
    the synthetic corpus in tests.
    """
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(input_path)
    )
    return (
        stream.withWatermark("ts", watermark_delay)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum((F.col("event_type") == "purchase").cast("long")).alias(
                "n_purchases"
            ),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "n_purchases",
        )
    )


def stream_attribution_candidates(
    spark: SparkSession,
    input_path: str,
    lookback: str = "2 hours",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Stream-STREAM join: every purchase paired with the same user's
    clicks inside a bounded lookback window — the candidate set the
    batch as-of attribution (queries_events.q_last_touch_attribution)
    reduces to its latest element. Both sides are watermarked streams;
    the time-range predicate is what makes the join state PROVABLY
    bounded (Spark evicts a buffered click once the purchase-side
    watermark passes click.ts + lookback): O(ingest-rate × (delay +
    lookback)) per side, never O(history). Inner join: a pair emits as
    soon as both sides arrive — no end-of-stream flush dependency
    (outer-null emission waits on watermark advancement, which an
    availableNow replay never completes for the final window)."""
    purchases = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(input_path)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark_delay)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    clicks = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(input_path)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", watermark_delay)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    return purchases.join(
        clicks,
        F.expr(
            f"p_user = c_user AND c_ts <= p_ts "
            f"AND c_ts >= p_ts - interval {lookback}"
        ),
        "inner",
    ).select(
        "purchase_id",
        "click_id",
        (F.unix_micros(F.col("p_ts").cast("timestamp"))
         - F.unix_micros(F.col("c_ts").cast("timestamp"))).alias("gap_us"),
    )


def stream_exact_dedup(
    spark: SparkSession,
    input_path: str,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact deduplication of a continuously-fed documents
    table: md5 fingerprint of normalized text, first-seen row wins,
    state bounded by the event-time watermark
    (``dropDuplicatesWithinWatermark`` — the streaming twin of the
    batch ``exact_dup_groups`` query in plans/queries_textops.py).

    Scale note: state is one fingerprint per in-watermark doc, evicted
    as the watermark advances — O(ingest-rate x delay), not O(corpus).
    A full-corpus dedup stays batch; this catches re-submissions and
    crawl echoes inside the freshness window."""
    from pero_ocr_api_spark.operators.dedup import fingerprint_exact

    schema = "doc_id string, ts timestamp, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(input_path)
    )
    return (
        fingerprint_exact(stream)
        .withWatermark("ts", watermark_delay)
        .dropDuplicatesWithinWatermark(["fingerprint"])
        .select("doc_id", "ts", "fingerprint")
    )


def stream_near_dedup(
    spark: SparkSession,
    input_path: str,
    watermark_delay: str = "10 minutes",
    bits: int = 32,
) -> DataFrame:
    """Streaming NEAR-duplicate suppression: 32-bit simhash signature,
    first-seen doc per signature wins within the event-time watermark.
    Near-identical docs (shared vocabulary up to small edits) collapse
    to *identical* simhashes, so exact-signature
    ``dropDuplicatesWithinWatermark`` delivers the Hamming-0 tier of
    near-dup detection with watermark-bounded state — the streaming
    twin of the batch ``simhash_near_pairs`` star stage
    (operators/dedup.py). Hamming-1 cross pairs need signature-flip
    probing against the full group table and stay a batch concern (a
    stream sees each signature once; the batch job owns the corpus).

    Scale note: state is one 32-bit signature per in-watermark doc —
    O(ingest-rate × delay); the per-row simhash expression is pure
    JVM (no Python in the stream)."""
    from pero_ocr_api_spark.operators.dedup import simhash_col

    schema = "doc_id string, ts timestamp, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(input_path)
    )
    return (
        stream.withColumn("simhash", simhash_col(F.col("text"), bits))
        .withWatermark("ts", watermark_delay)
        .dropDuplicatesWithinWatermark(["simhash"])
        .select("doc_id", "ts", "simhash")
    )


def stream_incremental_dedup(
    spark: SparkSession,
    input_path: str,
    corpus: "DataFrame",
    watermark_delay: str = "10 minutes",
    jaccard_threshold: float = 0.3,
    corpus_bands: "DataFrame | None" = None,
) -> DataFrame:
    """Streaming batch-vs-corpus near-dedup: the continuous version of
    the batch ``incremental_dedup`` query (plans/queries_textops.py).
    Each incoming doc is LSH-banded per row (``minhash_signature_col``
    — aggregation-free, so the plan stays a chain of projections and
    stream-STATIC joins, all append-mode legal) and equi-joined
    against the pre-built corpus band index through
    ``plans.io.band_candidates`` (which drops self pairs, so a
    replayed doc already in the index is not its own duplicate);
    candidate pairs dedupe across bands inside the watermark, then an
    exact Jaccard verify
    joins the static corpus texts — candidates-only, never
    corpus × stream.

    Scale shape: the corpus side is hashed ONCE — pass the pre-built
    index as ``corpus_bands`` (e.g. the bucketed table from
    ``plans.io.write_band_index``), or let the default build it and
    ``localCheckpoint`` the result so every micro-batch reuses the
    materialized bands instead of re-minhashing the corpus per
    trigger (review finding). The Jaccard verify shingles ONLY the
    candidate rows (join first, shingle after) — never the whole
    corpus per batch. State is one (doc_id, corpus_id) key per
    in-watermark candidate — O(candidate-rate × delay), not
    O(corpus)."""
    from pero_ocr_api_spark.operators.dedup import (
        band_structs_col,
        jaccard_col,
        minhash_signature_col,
        shingles_col,
    )
    from pero_ocr_api_spark.plans.io import TEXT_BANDS, band_candidates

    if corpus_bands is None:
        corpus_bands = TEXT_BANDS.bands(
            corpus.select("doc_id", "text"), None  # text bands take no dim
        ).localCheckpoint(eager=True)
    c_text = corpus.select(
        F.col("doc_id").alias("corpus_id"),
        F.col("text").alias("corpus_text"),
    )

    schema = "doc_id string, ts timestamp, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(input_path)
    )
    # band explosion CARRIES ts/text (a join-back to the source would
    # be a stream-stream join; this stays a projection chain)
    s_bands = (
        stream.withColumn("signature", minhash_signature_col(F.col("text")))
        .select(
            "doc_id", "ts", "text", F.explode(band_structs_col()).alias("b")
        )
        .select("doc_id", "ts", "text", "b.band_idx", "b.band_hash")
    )
    cand = (
        band_candidates(s_bands, corpus_bands, TEXT_BANDS)
        .select(F.col("batch_id").alias("doc_id"), "corpus_id", "ts", "text")
        .withWatermark("ts", watermark_delay)
        .dropDuplicatesWithinWatermark(["doc_id", "corpus_id"])
    )
    jac = jaccard_col(
        shingles_col(F.col("text")), shingles_col(F.col("corpus_text"))
    )
    return (
        cand.join(c_text, "corpus_id")
        .select(
            "doc_id",
            "corpus_id",
            "ts",
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def stream_incremental_embedding_dedup(
    spark: SparkSession,
    input_path: str,
    corpus: "DataFrame",
    dim: int,
    watermark_delay: str = "10 minutes",
    cosine_threshold: float = 0.999,
    corpus_bands: "DataFrame | None" = None,
) -> DataFrame:
    """Streaming batch-vs-corpus EMBEDDING dedup — the continuous twin
    of the batch ``incremental_embedding_dedup`` query and the stream
    hook of the embedding index (``plans.io.write_band_index`` with
    ``EMBEDDING_BANDS``).
    Each incoming vector is sign-LSH-bucketed per row
    (a pure projection of the expression behind
    ``similarity.embedding_bands_df``, so stream and index buckets
    always agree) and equi-joined against the pre-built corpus band
    index through ``plans.io.band_candidates`` (self pairs dropped);
    candidate pairs dedupe across tables inside the watermark, then an
    exact-cosine verify joins the static corpus VECTORS —
    candidates-only, never corpus × stream.

    Scale shape: the corpus is hashed ONCE — pass the bucketed table
    from ``write_band_index`` as ``corpus_bands`` (columns
    vec_id, t, bucket), or let the default build it and
    ``localCheckpoint`` so micro-batches reuse the materialized bands.
    The plan stays projections + stream-STATIC joins (append-mode
    legal); state is one (vec_id, corpus_id) key per in-watermark
    candidate."""
    from pero_ocr_api_spark.operators import similarity
    from pero_ocr_api_spark.plans.io import EMBEDDING_BANDS, band_candidates

    if corpus_bands is None:
        corpus_bands = EMBEDDING_BANDS.bands(
            corpus.select("vec_id", "embedding"), dim
        ).localCheckpoint(eager=True)
    c_vec = similarity._with_norm(corpus.select("vec_id", "embedding")).select(
        F.col("vec_id").alias("corpus_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cn"),
    )

    schema = "vec_id long, ts timestamp, embedding array<float>"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(input_path)
    )
    # band explosion CARRIES ts + the vector (a join-back to the source
    # would be a stream-stream join; this stays a projection chain)
    s = stream.withColumn(
        "v", F.transform("embedding", lambda x: x.cast("double"))
    ).withColumn(
        "norm", F.sqrt(similarity.dot_col(F.col("v"), F.col("v")))
    )
    s_bands = s.select(
        "vec_id",
        "ts",
        "v",
        "norm",
        F.explode(
            similarity.bucket_struct_col(
                F.col("v"),
                dim,
                similarity.ANN_SELF_TABLES,
                similarity.ANN_SELF_PLANES,
            )
        ).alias("b"),
    ).select("vec_id", "ts", "v", "norm", "b.t", "b.bucket")
    cand = (
        band_candidates(s_bands, corpus_bands, EMBEDDING_BANDS)
        .select(F.col("batch_id").alias("vec_id"), "corpus_id", "ts", "v", "norm")
        .withWatermark("ts", watermark_delay)
        .dropDuplicatesWithinWatermark(["vec_id", "corpus_id"])
    )
    cos = similarity.dot_col(F.col("v"), F.col("cv")) / (
        F.col("norm") * F.col("cn")
    )
    return (
        cand.join(c_vec, "corpus_id")
        .select("vec_id", "corpus_id", "ts", cos.alias("cosine"))
        .filter(F.col("cosine") >= cosine_threshold)
    )


# --- U6 as a custom stateful operator (applyInPandasWithState) -------------

PAGE_EVENT_SCHEMA = "page_id string, state string, ts timestamp"
REQUEUE_SCHEMA = "page_id string, action string, stuck_since timestamp"
_TIMEOUT_STATE_SCHEMA = "processing_ts long"
PROCESSING_TIMEOUT_S = 60  # app/__init__.py:80-83


def _timeout_fn(key, pdfs, state):
    """Per-page state machine: remember when PROCESSING started; if
    the event-time watermark passes start + PROCESSING_TIMEOUT_S with
    no terminal event, emit a requeue row (U6, app/__init__.py:76-124).

    Two late-data guards: (a) all Arrow chunks are concatenated and
    sorted by ``ts`` *once*, so an out-of-order batch cannot replay a
    terminal event before the PROCESSING that preceded it; (b) the
    timeout is clamped to just past the current watermark — a
    PROCESSING event arriving so late that ts+60 s is already behind
    the watermark would otherwise make Spark reject the timestamp and
    kill the query."""
    import pandas as pd

    page_id = key[0]
    terminal = {
        STATE_PROCESSED, "CANCELED",
        STATE_NOT_FOUND, STATE_INVALID_FILE, STATE_PROCESSING_FAILED,
    }
    if state.hasTimedOut:
        (processing_ts,) = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "page_id": [page_id],
                "action": ["REQUEUE_WAITING"],
                "stuck_since": [pd.Timestamp(processing_ts, unit="us")],
            }
        )
        return
    # stable sort + explicit tie-break: at equal ts a terminal event
    # sorts AFTER the PROCESSING it closes (pandas' default quicksort
    # could flip them run-to-run, nondeterministically turning a
    # finished page into a requeue) — matching the reference watchdog,
    # where a page whose state already reached a terminal value is
    # never requeued regardless of timestamp ties
    events = pd.concat(list(pdfs), ignore_index=True)
    events = events.assign(
        _prio=events["state"].isin(terminal).astype(int)
    ).sort_values(["ts", "_prio"], kind="stable")
    latest_processing = None
    finished = False
    for _, row in events.iterrows():
        if row["state"] == "PROCESSING":
            latest_processing = row["ts"]
            finished = False
        elif row["state"] in terminal:
            finished = True
    if finished:
        state.remove()
    elif latest_processing is not None:
        nanos = int(pd.Timestamp(latest_processing).value)
        state.update((nanos // 1000,))  # store micros
        # timeout at processing_ts + 60 s (epoch millis), clamped to
        # strictly after the current watermark
        deadline_ms = nanos // 1_000_000 + PROCESSING_TIMEOUT_S * 1000
        watermark_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(deadline_ms, watermark_ms + 1))
    return
    yield  # pragma: no cover — make this a generator


def stream_timeout_requeue(
    spark: SparkSession,
    input_path: str,
    watermark_delay: str = "5 seconds",
) -> DataFrame:
    """Custom stateful streaming operator: pages stuck in PROCESSING
    longer than 60 s of event time are requeued — the reference's
    APScheduler watchdog as applyInPandasWithState with an
    event-time timeout keyed by page."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = (
        spark.readStream.schema(PAGE_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_path)
    )
    return (
        stream.withWatermark("ts", watermark_delay)
        .groupBy("page_id")
        .applyInPandasWithState(
            _timeout_fn,
            outputStructType=REQUEUE_SCHEMA,
            stateStructType=_TIMEOUT_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_extract(
    spark: SparkSession,
    input_path: str,
    media: DataFrame,
    output_path: str,
    checkpoint_path: str,
):
    """Full extraction as a micro-batch stream over a documents
    directory; processes everything available, then stops
    (``availableNow`` — swap for ``processingTime`` in a live feed).

    Returns the StreamingQuery (caller awaits termination).
    """
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_path)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        run_id = f"stream_b{batch_id}"
        # the batch's media cache is freed once its output is written
        with cache_scope("run", run_id):
            extracted, lineage = run_extract(
                spark, batch_df, media, run_id=run_id
            )
            # idempotent under checkpoint replay: a re-run of the same
            # batch overwrites its own directory
            extracted.write.mode("overwrite").parquet(
                f"{output_path}/batch_id={batch_id}"
            )
            lineage.write.mode("overwrite").parquet(
                f"{output_path}/_lineage/batch_id={batch_id}"
            )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
