"""Fair scheduler + engine metadata queries (J1-J3, J7, A6, O1-O2).

The reference dequeues one page per HTTP poll
(``get_page_by_preferred_engine``, ``app/main/general.py:112-151``):

1. J1 — keys that have WAITING work, suspension honored;
2. J2 — per-key processed count over the last minute, default 0;
3. A6 — argmin key (client-side ``min(...)``);
4. J3/O1 — oldest WAITING page of that key (FIFO by
   waiting_timestamp, backed by a btree index).

The batch analog generalizes this to assigning the *whole* queue at
once with the same fairness semantics: pages are ranked FIFO within
each key, then interleaved round-robin across keys (keys with the
lowest recent processed-count first) — one window + one sort, no
N+1 loops. ``limit=1`` reproduces the reference's single dequeue
exactly.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

FAIR_WINDOW_S = 60  # general.py:102-106: last 1 min


def keys_with_waiting_work(
    page: DataFrame, request: DataFrame, api_key: DataFrame, engine_id: int | None = None
) -> DataFrame:
    """J1 (general.py:92-99): distinct unsuspended keys with WAITING
    pages, optional engine filter. Dims broadcast."""
    req = request
    if engine_id is not None:
        req = req.filter(F.col("engine_id") == engine_id)
    return (
        page.filter(F.col("state") == "WAITING")
        .join(req.select(F.col("id").alias("rid"), "api_key_id"),
              page.request_id == F.col("rid"))
        .join(
            F.broadcast(
                api_key.filter(~F.col("suspension")).select(
                    F.col("id").alias("key_id")
                )
            ),
            F.col("api_key_id") == F.col("key_id"),
        )
        .select("key_id")
        .distinct()
    )


def processed_counts_last_window(
    page: DataFrame, request: DataFrame, now: datetime
) -> DataFrame:
    """J2 (general.py:102-109): per-key PROCESSED count in the last
    minute (keys absent → 0 handled by the left join in fair_assign)."""
    cutoff = now - timedelta(seconds=FAIR_WINDOW_S)
    return (
        page.filter(
            (F.col("state") == "PROCESSED")
            & (F.col("finish_timestamp") > F.lit(cutoff))
        )
        .join(request.select(F.col("id").alias("rid"), "api_key_id"),
              page.request_id == F.col("rid"))
        .groupBy("api_key_id")
        .agg(F.count("*").alias("recent_processed"))
    )


def global_rank(
    df: DataFrame, sort_cols: list[str], rank_col: str = "rank"
) -> DataFrame:
    """Exact global ``row_number()`` computed distributively.

    A plain ``Window.orderBy(...)`` funnels every row through one
    reducer (``Exchange SinglePartition``) — the task that kills a
    100x-scale job. Instead:

    1. ``repartitionByRange`` on the sort key — partition *i*'s rows
       all order before partition *i+1*'s (the sort key here ends in
       a unique id, so boundaries are unambiguous);
    2. ``row_number()`` within each range partition (window keyed by
       ``spark_partition_id()`` — fully parallel);
    3. prefix-sum of per-partition row counts to offset the local
       ranks — a P-row aggregate (P = shuffle partitions), so *its*
       single-partition window moves metadata, not data.

    Both consumers (the ranked rows and the per-partition sizes)
    derive from the SAME windowed DataFrame — sizes are
    ``max(row_number)`` per partition rather than a count over the
    bare exchange — so the shared subtree covers the exchange *and*
    the sort, and Spark's exchange reuse (on by default, plus AQE's
    ReusedExchange) executes the range partitioning once. If the
    exchange were somehow re-executed with different sampled range
    boundaries, deriving both branches from one subtree maximizes the
    reused prefix; the joint key is ``_pid`` from the same window
    pass, never two independently-sampled partitionings."""
    arranged = df.repartitionByRange(*sort_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    local_w = Window.partitionBy("_pid").orderBy(*sort_cols)
    local = arranged.withColumn("_lrank", F.row_number().over(local_w))
    sizes = local.groupBy("_pid").agg(F.max("_lrank").alias("_psize"))
    off_w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = sizes.select(
        "_pid",
        F.coalesce(F.sum("_psize").over(off_w), F.lit(0)).alias("_off"),
    )
    return (
        local.join(F.broadcast(offs), "_pid")
        .withColumn(rank_col, F.col("_off") + F.col("_lrank"))
        .drop("_pid", "_lrank", "_off")
    )


def global_prefix_sum(
    df: DataFrame,
    sort_cols: list[str],
    value_col: str,
    out: str = "prefix_sum",
) -> DataFrame:
    """Exact global EXCLUSIVE prefix sum of a non-negative value
    column in ``sort_cols`` order, computed distributively — the same
    three-step shape as :func:`global_rank` (range partition → local
    window → P-row offset table), generalized from row counting to an
    arbitrary running total (sequence packing, byte offsets, quota
    ledgers). ``value_col`` must be non-negative: the per-partition
    total is read off the same local-cumsum subtree as ``max`` so the
    exchange is reused, which needs a monotone running sum."""
    arranged = df.repartitionByRange(*sort_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    local_w = (
        Window.partitionBy("_pid")
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = arranged.withColumn("_lcum", F.sum(value_col).over(local_w))
    totals = local.groupBy("_pid").agg(F.max("_lcum").alias("_ptot"))
    off_w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        "_pid",
        F.coalesce(F.sum("_ptot").over(off_w), F.lit(0)).alias("_off"),
    )
    return (
        local.join(F.broadcast(offs), "_pid")
        .withColumn(out, F.col("_off") + F.col("_lcum") - F.col(value_col))
        .drop("_pid", "_lcum", "_off")
    )


def fair_assign(
    page: DataFrame,
    request: DataFrame,
    api_key: DataFrame,
    now: datetime,
    engine_id: int | None = None,
    limit: int | None = None,
) -> DataFrame:
    """J3 batch analog: fairness-ordered assignment of WAITING pages.

    Order: FIFO rank within key (O1), then recent processed count
    (A6 argmin), then key id (deterministic tie-break, matching the
    reference's stable dict-order min). ``limit=1`` == the reference's
    single dequeue (general.py:112-151). Returns (page_id, request_id,
    api_key_id, engine_id, fair_rank).

    The global fair rank is computed via :func:`global_rank` — no
    stage sees more than one range-partition of the queue."""
    keys = keys_with_waiting_work(page, request, api_key, engine_id)
    counts = processed_counts_last_window(page, request, now)
    key_order = keys.join(
        counts, keys.key_id == counts.api_key_id, "left"
    ).select(
        "key_id",
        F.coalesce("recent_processed", F.lit(0)).alias("recent_processed"),
    )
    req = request.select(
        F.col("id").alias("rid"), "api_key_id", "engine_id"
    )
    if engine_id is not None:
        req = req.filter(F.col("engine_id") == engine_id)
    waiting = (
        page.filter(F.col("state") == "WAITING")
        .select(F.col("id").alias("page_id"), "request_id", "waiting_timestamp")
        .join(req, F.col("request_id") == F.col("rid"))
        .join(F.broadcast(key_order), F.col("api_key_id") == F.col("key_id"))
    )
    fifo = Window.partitionBy("key_id").orderBy("waiting_timestamp", "page_id")
    ranked = waiting.withColumn("fifo_rank", F.row_number().over(fifo))
    out = global_rank(
        ranked, ["fifo_rank", "recent_processed", "key_id", "page_id"], "fair_rank"
    ).select(
        "page_id", "request_id", F.col("api_key_id"), "engine_id", "fair_rank"
    )
    if limit is not None:
        out = out.filter(F.col("fair_rank") <= limit)
    return out


def fair_assign_preferred(
    page: DataFrame,
    request: DataFrame,
    api_key: DataFrame,
    now: datetime,
    preferred_engine_id: int,
) -> DataFrame:
    """The reference's two-pass dequeue (general.py:112-151): the one
    page to hand out next, from the preferred engine first; if it
    yields nothing, fall back to any-engine work — one lazy plan, no
    driver-side branch.

    Pass 1 rows win over pass 2 rows; a page appearing in both passes
    is kept once (pass 1). The final re-rank window runs over at most
    two pre-filtered rows, so it is bounded regardless of queue
    depth."""
    pref = fair_assign(
        page, request, api_key, now, engine_id=preferred_engine_id, limit=1
    ).withColumn("_pass", F.lit(0))
    any_engine = fair_assign(
        page, request, api_key, now, engine_id=None, limit=1
    ).withColumn("_pass", F.lit(1))
    merged = pref.unionByName(any_engine)
    first_pass = Window.partitionBy("page_id").orderBy("_pass")
    deduped = (
        merged.withColumn("_dup", F.row_number().over(first_pass))
        .filter(F.col("_dup") == 1)
        .drop("_dup")
    )
    final = Window.orderBy("_pass", "fair_rank", "page_id")  # <= 2 rows
    return (
        deduped.withColumn("final_rank", F.row_number().over(final))
        .filter(F.col("final_rank") <= 1)
        .select(
            "page_id", "request_id", "api_key_id", "engine_id",
            F.col("final_rank").alias("fair_rank"),
        )
    )


def latest_engine_versions(
    engine: DataFrame,
    engine_version: DataFrame,
    engine_version_model: DataFrame,
    model: DataFrame,
) -> DataFrame:
    """J7 (general.py:70-77, 272-278): the reference's per-engine N+1
    loop (latest version per engine, then its models) collapsed into
    one windowed query + join."""
    w = Window.partitionBy("engine_id").orderBy(F.desc("id"))
    latest = (
        engine_version.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("id").alias("version_id"),
            F.col("version"),
            "engine_id",
        )
    )
    evm = engine_version_model.select(
        F.col("engine_version_id"), F.col("model_id")
    )
    models = (
        latest.join(evm, latest.version_id == evm.engine_version_id, "left")
        .join(
            F.broadcast(model.select(F.col("id").alias("mid"), F.col("name").alias("model_name"))),
            F.col("model_id") == F.col("mid"),
            "left",
        )
        .groupBy("engine_id", "version_id", "version")
        .agg(F.sort_array(F.collect_list("model_name")).alias("models"))
    )
    return (
        F.broadcast(engine.select(F.col("id").alias("engine_id"), F.col("name").alias("engine_name")))
        .join(models, "engine_id", "left")
        .select("engine_id", "engine_name", "version_id", "version", "models")
    )
