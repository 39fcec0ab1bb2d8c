"""Distributed as-of join (backward, at-or-before).

The canonical time-series operator Spark lacks as a built-in: for every
left row, find the single most recent right row with the same key whose
timestamp is at or before the left row's. Reference analog: the
processing client attributes each result upload to the engine version
that was current when the page entered PROCESSING
(processing_client/run_client.py:220-260 re-reads request state at
upload time) — the relational form of that lookup over histories is an
as-of join.

Implementation is the union-scan form, NOT a range join:

* tag rows right=0 / left=1, union them with aligned schemas;
* one window per key, ordered by (ts, side[, tie]), carries the last
  non-null right payload forward (``last(..., ignorenulls=True)`` over
  ``rowsBetween(unboundedPreceding, currentRow)``);
* keep the left rows; each now holds its as-of match (null when no
  right row precedes it — left-join semantics).

Scale shape: exactly ONE shuffle (hash by key for the window), state
per partition is a single carried struct, and the output is |left| rows
— no candidate explosion, no per-key range cross product, nothing
driver-side. A sort-merge range join would re-sort both sides per key
range; this plan sorts once and streams. Skewed keys behave like any
windowed aggregation (AQE handles partition-level skew; per-key order
is required by the semantics, so per-key salting does not apply — a
key's history must be scanned in time order regardless of engine).

At equal timestamps the right row is visible to the left row
(inclusive at-or-before, matching DuckDB's ``ASOF JOIN ... ON l.ts >=
r.ts`` and pandas ``merge_asof(allow_exact_matches=True)``). Right
rows should be unique per (key, ts); callers with duplicate right
timestamps pre-aggregate (see queries_events.q_last_touch_attribution)
so the carried "last" row is well-defined in every engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame, on: list[str]) -> DataFrame:
    """As-of join: each left row gains the LATEST right row with the
    same ``on`` keys whose ``ts`` is at or before its own ``ts``
    (inclusive at equal timestamps), or nulls.

    Output columns: ``on`` keys, every non-key left column (original
    names), then every non-key right column as ``r_{name}`` (the right
    timestamp arrives as ``r_ts``).
    """
    l_payload = [c for c in left.columns if c not in on]
    r_payload = [c for c in right.columns if c not in on]
    if not l_payload or not r_payload:
        # F.struct() with zero fields fails with an unrelated analysis
        # error; the usual cause is naming the timestamp column in `on`
        raise ValueError(
            "asof_join: each side needs at least one non-key column "
            "(did you include the timestamp column in `on`?)"
        )
    # a right row with a NULL timestamp can never be "at or before"
    # anything — drop it, or it would sort to an edge of the scan and
    # be carried as a fabricated match
    right = right.filter(F.col("ts").isNotNull())
    r2 = right.select(
        *on,
        F.col("ts").alias("_asof_ts"),
        F.lit(0).alias("_asof_side"),
        F.struct(*r_payload).alias("_asof_r"),
    )
    l2 = left.select(
        *on,
        F.col("ts").alias("_asof_ts"),
        F.lit(1).alias("_asof_side"),
        F.struct(*l_payload).alias("_asof_l"),
    )
    u = r2.unionByName(l2, allowMissingColumns=True)
    # NULLS FIRST: a left row with a NULL timestamp sorts before every
    # right row and therefore carries no match
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("_asof_ts").asc_nulls_first(), F.col("_asof_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn(
        "_asof_m", F.last("_asof_r", ignorenulls=True).over(w)
    ).filter(F.col("_asof_side") == 1)
    out = [F.col(k) for k in on]
    out += [F.col("_asof_l")[c].alias(c) for c in l_payload]
    out += [F.col("_asof_m")[c].alias(f"r_{c}") for c in r_payload]
    return matched.select(*out)
