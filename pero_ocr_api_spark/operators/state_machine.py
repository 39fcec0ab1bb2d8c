"""Page state machine as declarative DataFrame transforms (U1-U7).

The reference mutates rows in place through SQLAlchemy point/bulk
UPDATEs; here every transition is a pure recompute —
``withColumn(when(...))`` over the page table — which on Iceberg
becomes a ``MERGE INTO`` keyed by page id. State diagram
(``app/db/model.py:13-22``):

    CREATED → WAITING → PROCESSING → PROCESSED → EXPIRED
        ↘ CANCELED ↙        ↓ (60 s timeout) → WAITING
                            ↓ → NOT_FOUND | INVALID_FILE | PROCESSING_FAILED

Every function takes a pinned ``now`` (reference: datetime.utcnow());
timestamps are stamped exactly like the reference cites below.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PROCESSING_TIMEOUT_S = 60  # app/__init__.py:80-83
EXPIRY_DAYS = 7  # app/__init__.py:130-131
FAIL_STATES = ("NOT_FOUND", "INVALID_FILE", "PROCESSING_FAILED")
LIVE_STATES = ("CREATED", "WAITING", "PROCESSING")  # general.py:50,60


def upload_image(page: DataFrame, page_id: str, new_url: str, now: datetime) -> DataFrame:
    """U1 — CREATED→WAITING + url rewrite + waiting_timestamp
    (general.py:286-291; upload route routes.py:90-132)."""
    hit = (F.col("id") == page_id) & (F.col("state") == "CREATED")
    return (
        page.withColumn("url", F.when(hit, F.lit(new_url)).otherwise(F.col("url")))
        .withColumn(
            "waiting_timestamp",
            F.when(hit, F.lit(now)).otherwise(F.col("waiting_timestamp")),
        )
        .withColumn(
            "state", F.when(hit, F.lit("WAITING")).otherwise(F.col("state"))
        )
    )


def mark_processing(page: DataFrame, page_ids, now: datetime) -> DataFrame:
    """U2 — WAITING→PROCESSING on dequeue (general.py:146-149)."""
    hit = F.col("id").isin(list(page_ids)) & (F.col("state") == "WAITING")
    return page.withColumn(
        "processing_timestamp",
        F.when(hit, F.lit(now)).otherwise(F.col("processing_timestamp")),
    ).withColumn(
        "state", F.when(hit, F.lit("PROCESSING")).otherwise(F.col("state"))
    )


def mark_processed(
    page: DataFrame, results: DataFrame, now: datetime
) -> DataFrame:
    """U3 — →PROCESSED with score/engine_version/finish_timestamp
    (general.py:210-224). `results` columns: id, score, engine_version."""
    r = results.select(
        F.col("id").alias("_rid"),
        F.col("score").alias("_rscore"),
        F.col("engine_version").alias("_rev"),
    )
    joined = page.join(r, page.id == r._rid, "left")
    hit = F.col("_rid").isNotNull() & (F.col("state") == "PROCESSING")
    return (
        joined.withColumn(
            "score", F.when(hit, F.col("_rscore")).otherwise(F.col("score"))
        )
        .withColumn(
            "engine_version",
            F.when(hit, F.col("_rev")).otherwise(F.col("engine_version")),
        )
        .withColumn(
            "finish_timestamp",
            F.when(hit, F.lit(now)).otherwise(F.col("finish_timestamp")),
        )
        .withColumn(
            "state", F.when(hit, F.lit("PROCESSED")).otherwise(F.col("state"))
        )
        .drop("_rid", "_rscore", "_rev")
    )


def mark_failed(
    page: DataFrame, failures: DataFrame, now: datetime
) -> DataFrame:
    """U4 — →NOT_FOUND/INVALID_FILE/PROCESSING_FAILED + traceback
    (general.py:227-246, fail-type mapping 231-236)."""
    f = failures.select(
        F.col("id").alias("_fid"),
        F.col("fail_type").alias("_ftype"),
        F.col("traceback").alias("_ftb"),
    )
    joined = page.join(f, page.id == f._fid, "left")
    hit = F.col("_fid").isNotNull() & (F.col("state") == "PROCESSING")
    return (
        joined.withColumn(
            "traceback", F.when(hit, F.col("_ftb")).otherwise(F.col("traceback"))
        )
        .withColumn(
            "finish_timestamp",
            F.when(hit, F.lit(now)).otherwise(F.col("finish_timestamp")),
        )
        .withColumn(
            "state", F.when(hit, F.col("_ftype")).otherwise(F.col("state"))
        )
        .drop("_fid", "_ftype", "_ftb")
    )


def cancel_request(page: DataFrame, request_id: str, now: datetime) -> DataFrame:
    """U5 — bulk cancel of live pages, shared finish_timestamp
    (general.py:58-67)."""
    hit = (F.col("request_id") == request_id) & F.col("state").isin(
        list(LIVE_STATES)
    )
    return page.withColumn(
        "finish_timestamp",
        F.when(hit, F.lit(now)).otherwise(F.col("finish_timestamp")),
    ).withColumn(
        "state", F.when(hit, F.lit("CANCELED")).otherwise(F.col("state"))
    )


def timeout_requeue(page: DataFrame, now: datetime) -> DataFrame:
    """U6 — PROCESSING stuck > 60 s → back to WAITING with
    processing_timestamp cleared, exactly like the reference watchdog
    (app/__init__.py:76-124; requeue + timestamp reset at 85-87)."""
    cutoff = now - timedelta(seconds=PROCESSING_TIMEOUT_S)
    # materialize the hit flag once: both columns below rewrite inputs
    # the predicate reads, so re-deriving it per withColumn would see
    # the already-mutated values
    hit = (F.col("state") == "PROCESSING") & (
        F.col("processing_timestamp") < F.lit(cutoff)
    )
    return (
        page.withColumn("_hit", hit)
        .withColumn(
            "processing_timestamp",
            F.when(F.col("_hit"), F.lit(None).cast("timestamp")).otherwise(
                F.col("processing_timestamp")
            ),
        )
        .withColumn(
            "state",
            F.when(F.col("_hit"), F.lit("WAITING")).otherwise(F.col("state")),
        )
        .drop("_hit")
    )


def expire_old(page: DataFrame, request: DataFrame, now: datetime) -> DataFrame:
    """U7 — PROCESSED pages of week-old finished requests → EXPIRED
    (app/__init__.py:127-156; left join + filter at 134-139)."""
    cutoff = now - timedelta(days=EXPIRY_DAYS)
    old_req = request.filter(
        F.col("finish_timestamp").isNotNull()
        & (F.col("finish_timestamp") < F.lit(cutoff))
    ).select(F.col("id").alias("_old_rid"))
    joined = page.join(
        F.broadcast(old_req), page.request_id == old_req._old_rid, "left"
    )
    hit = F.col("_old_rid").isNotNull() & (F.col("state") == "PROCESSED")
    return joined.withColumn(
        "state", F.when(hit, F.lit("EXPIRED")).otherwise(F.col("state"))
    ).drop("_old_rid")


def request_completion(page: DataFrame) -> DataFrame:
    """A1/A10 — per-request status: total, not-done count, ratio, avg
    score; is_processed when ratio hits 1.0 (general.py:48-55,
    249-254)."""
    done_excluded = F.col("state").isin(list(LIVE_STATES))
    return page.groupBy("request_id").agg(
        F.count("*").alias("n_pages"),
        F.sum(F.when(done_excluded, 1).otherwise(0)).alias("n_pending"),
        ((F.count("*") - F.sum(F.when(done_excluded, 1).otherwise(0)))
         / F.count("*")).alias("completion"),
        F.avg(F.when(F.col("state") == "PROCESSED", F.col("score"))).alias(
            "avg_score"
        ),
    )
