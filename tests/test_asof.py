"""Unit + plan tests for the distributed as-of join
(operators/asof.py) and its consumer queries (plans/queries_events.py)."""

from __future__ import annotations

import datetime as dt
import tempfile

from pyspark.sql import functions as F

from pero_ocr_api_spark.operators.asof import asof_join
from pero_ocr_api_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _ts(s: str):
    return dt.datetime.fromisoformat(s)


def _frames(spark):
    left = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), "p1"),
            (1, _ts("2024-01-01 09:30:00"), "p2"),  # exact tie with r2
            (1, _ts("2024-01-01 07:00:00"), "p3"),  # before all right rows
            (2, _ts("2024-01-01 12:00:00"), "p4"),  # key with no right rows
        ],
        "k int, ts timestamp, pid string",
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 08:00:00"), "c1"),
            (1, _ts("2024-01-01 09:30:00"), "c2"),
        ],
        "k int, ts timestamp, cid string",
    )
    return left, right


def test_asof_backward_semantics(spark):
    left, right = _frames(spark)
    out = {
        r["pid"]: r["r_cid"]
        for r in asof_join(left, right, on=["k"]).collect()
    }
    assert out == {
        "p1": "c2",  # latest at-or-before
        "p2": "c2",  # equal timestamps match (inclusive)
        "p3": None,  # no right row precedes -> left-join null
        "p4": None,  # key absent on right
    }


def test_asof_carries_right_timestamp(spark):
    left, right = _frames(spark)
    row = (
        asof_join(left, right, on=["k"])
        .filter(F.col("pid") == "p1")
        .collect()[0]
    )
    assert row["r_ts"] == _ts("2024-01-01 09:30:00")


def test_asof_single_shuffle(spark):
    """The union-scan as-of is ONE hash exchange on the key (plus
    AQE reads) — never a range cross product."""
    left, right = _frames(spark)
    plan = (
        asof_join(left, right, on=["k"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # one per union leg


def test_user_sessions_single_exchange(spark):
    """The whole sessionizer is ONE hash exchange: lag and the running
    session counter share one Sort (two Window nodes only because the
    frames differ), and the final (user_id, session_seq) aggregate is
    satisfied by the existing user_id partitioning — no second
    shuffle."""
    df = QUERIES["user_sessions"][0](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Sort") == 1


def test_sessions_respect_gap(spark):
    """Synthetic two-user stream: events 1 us inside the gap merge,
    1 us beyond it split."""
    from pero_ocr_api_spark.plans import queries_events as qe

    base = _ts("2024-01-01 00:00:00")
    gap = dt.timedelta(microseconds=qe.SESSION_GAP_US)
    rows = [
        (1, 10, "view", base),
        (1, 11, "view", base + gap),  # exactly the gap -> same session
        (1, 12, "purchase", base + gap + gap + dt.timedelta(microseconds=1)),
        (2, 20, "view", base),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts timestamp"
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = {
            (r["user_id"], r["session_seq"]): (r["n_events"], r["n_purchases"])
            for r in qe.q_user_sessions(spark, d).collect()
        }
    assert out == {(1, 1): (2, 0), (1, 2): (1, 1), (2, 1): (1, 0)}


def test_asof_keys_only_side_rejected(spark):
    """A side with zero non-key columns would hit F.struct() with no
    fields — an unrelated analysis error; the guard names the usual
    cause (timestamp column listed in `on`) instead (review finding)."""
    left, right = _frames(spark)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-key column"):
        asof_join(left.select("k", "ts"), right, on=["k", "ts"])


def test_asof_null_timestamps_never_match(spark):
    """A left row with a NULL timestamp matches nothing, and null-ts
    right rows are dropped, never fabricated as matches."""
    left = spark.createDataFrame(
        [(1, None, "pnull"), (1, _ts("2024-01-01 10:00:00"), "p1")],
        "k int, ts timestamp, pid string",
    )
    right = spark.createDataFrame(
        [
            (1, None, "cnull"),
            (1, _ts("2024-01-01 08:00:00"), "c1"),
        ],
        "k int, ts timestamp, cid string",
    )
    out = {
        r["pid"]: r["r_cid"]
        for r in asof_join(left, right, on=["k"]).collect()
    }
    assert out["pnull"] is None
    assert out["p1"] == "c1"
    assert "cnull" not in out.values()


def test_funnel_strictly_after_semantics(spark):
    """Hand-built stream pins the funnel's strict ordering: a click AT
    the signup timestamp does not count; a purchase before the first
    qualifying click does not count."""
    import os

    from pero_ocr_api_spark.plans import queries_events as qe

    rows = [
        # user 1: full funnel (signup < click < purchase)
        (1, 10, "signup", _ts("2024-01-01 08:00:00")),
        (1, 11, "click", _ts("2024-01-01 09:00:00")),
        (1, 12, "purchase", _ts("2024-01-01 10:00:00")),
        # user 2: click exactly AT signup ts -> not after -> no stage 2
        (2, 20, "signup", _ts("2024-01-01 08:00:00")),
        (2, 21, "click", _ts("2024-01-01 08:00:00")),
        # user 3: purchase BEFORE the first post-signup click -> no stage 3
        (3, 30, "signup", _ts("2024-01-01 08:00:00")),
        (3, 31, "purchase", _ts("2024-01-01 08:30:00")),
        (3, 32, "click", _ts("2024-01-01 09:00:00")),
        # user 4: click but never signed up -> stage 1 absent
        (4, 40, "click", _ts("2024-01-01 09:00:00")),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts timestamp"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        row = qe.q_funnel_conversion(spark, d).collect()[0]
    assert row["signup_users"] == 3
    assert row["click_after_signup_users"] == 2  # users 1 and 3
    assert row["purchase_after_click_users"] == 1  # user 1 only
