"""U1-U7 transitions + fair scheduler over the seeded state_meta world
(each against hand-computed expectations with pinned NOW)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pero_ocr_api_spark.operators import scheduling, state_machine as sm
from pero_ocr_api_spark.sources.state_meta import NOW, seed_tables


@pytest.fixture(scope="module")
def world(spark):
    tabs = seed_tables(spark)
    for df in tabs.values():
        df.cache().count()
    return tabs


def _states(df):
    return {r.id: r.state for r in df.select("id", "state").collect()}


def test_u1_upload_image(world):
    out = sm.upload_image(world["page"], "p3", "http://x/3", NOW)
    s = _states(out)
    assert s["p3"] == "WAITING"
    row = out.filter("id = 'p3'").first()
    assert row.url == "http://x/3"
    assert row.waiting_timestamp == NOW
    # everyone else untouched
    assert s["p1"] == "WAITING" and s["p5"] == "PROCESSED"


def test_u2_mark_processing(world):
    out = sm.mark_processing(world["page"], ["p1", "p5"], NOW)
    s = _states(out)
    assert s["p1"] == "PROCESSING"
    assert s["p5"] == "PROCESSED"  # guard: only WAITING transitions


def test_u3_mark_processed(world, spark):
    results = spark.createDataFrame(
        [("p2", 77.5, 2)], "id string, score double, engine_version int"
    )
    out = sm.mark_processed(world["page"], results, NOW)
    row = out.filter("id = 'p2'").first()
    assert row.state == "PROCESSED"
    assert row.score == 77.5
    assert row.engine_version == 2
    assert row.finish_timestamp == NOW


def test_u4_mark_failed(world, spark):
    fails = spark.createDataFrame(
        [("p2", "INVALID_FILE", "Traceback: boom")],
        "id string, fail_type string, traceback string",
    )
    out = sm.mark_failed(world["page"], fails, NOW)
    row = out.filter("id = 'p2'").first()
    assert row.state == "INVALID_FILE"
    assert row.traceback == "Traceback: boom"


def test_u5_cancel_request(world):
    out = sm.cancel_request(world["page"], "r1", NOW)
    s = _states(out)
    # r1's live pages canceled, others untouched
    assert s["p1"] == "CANCELED" and s["p2"] == "CANCELED" and s["p8"] == "CANCELED"
    assert s["p4"] == "WAITING" and s["p5"] == "PROCESSED"


def test_u6_timeout_requeue(world):
    out = sm.timeout_requeue(world["page"], NOW)
    s = _states(out)
    assert s["p2"] == "WAITING"  # stuck 3 min > 60 s
    assert s["p8"] == "PROCESSING"  # only 30 s — stays
    # watchdog also resets processing_timestamp (app/__init__.py:85-86)
    ts = {r.id: r.processing_timestamp for r in out.collect()}
    assert ts["p2"] is None
    assert ts["p8"] is not None


def test_u7_expire_old(world):
    out = sm.expire_old(world["page"], world["request"], NOW)
    s = _states(out)
    assert s["p6"] == "EXPIRED"  # r3 finished 8 days ago
    assert s["p5"] == "PROCESSED"  # r2 not finished


def test_a1_request_completion(world):
    rows = {
        r.request_id: r
        for r in sm.request_completion(world["page"]).collect()
    }
    assert rows["r2"].n_pages == 3
    assert rows["r2"].n_pending == 2  # p3 CREATED + p4 WAITING
    assert rows["r2"].avg_score == 86.7
    assert abs(rows["r2"].completion - 1 / 3) < 1e-12
    assert rows["r3"].completion == 1.0


def test_j1_keys_with_waiting(world):
    keys = {
        r.key_id
        for r in scheduling.keys_with_waiting_work(
            world["page"], world["request"], world["api_key"]
        ).collect()
    }
    # tenant a (p1 waiting) + tenant b (p4); suspended tenant 4 excluded
    assert keys == {2, 3}


def test_j2_processed_counts(world):
    counts = {
        r.api_key_id: r.recent_processed
        for r in scheduling.processed_counts_last_window(
            world["page"], world["request"], NOW
        ).collect()
    }
    assert counts == {3: 1}  # p5 finished 30 s ago under key 3


def test_j3_fair_assign_single_dequeue(world):
    got = scheduling.fair_assign(
        world["page"], world["request"], world["api_key"], NOW, limit=1
    ).collect()
    assert len(got) == 1
    # both keys have fifo_rank-1 pages; key 2 has fewer recent
    # processed (0 vs 1) → p1 wins despite p4 existing
    assert got[0].page_id == "p1"


def test_j3_fair_assign_full_queue(world):
    ranks = {
        r.page_id: r.fair_rank
        for r in scheduling.fair_assign(
            world["page"], world["request"], world["api_key"], NOW
        ).collect()
    }
    # suspended tenant's p7 never assigned
    assert set(ranks) == {"p1", "p4"}
    assert ranks["p1"] == 1 and ranks["p4"] == 2


def test_j3_engine_filter(world):
    got = scheduling.fair_assign(
        world["page"], world["request"], world["api_key"], NOW, engine_id=2
    ).collect()
    assert got == []  # engine 2 has only the suspended tenant's work


def test_global_rank_matches_total_order(spark):
    df = spark.range(0, 1000).select(
        ((F.col("id") * 37) % 1000).alias("k"), F.col("id")
    )
    rows = scheduling.global_rank(df, ["k", "id"], "r").orderBy("r").collect()
    assert [r.r for r in rows] == list(range(1, 1001))
    ks = [(r.k, r.id) for r in rows]
    assert ks == sorted(ks)


def test_global_rank_edge_cases(spark):
    empty = spark.range(0).select(F.col("id").alias("k"), "id")
    assert scheduling.global_rank(empty, ["k", "id"], "r").count() == 0
    one = spark.range(1).select(F.col("id").alias("k"), "id")
    assert scheduling.global_rank(one, ["k", "id"], "r").first().r == 1


def test_fair_assign_no_single_partition_window(world):
    """The queue-scale ranking must never funnel through one reducer:
    the only SinglePartition exchange allowed is the P-row partition-
    size prefix sum, and the fair-rank window must be keyed by the
    range-partition id."""
    out = scheduling.fair_assign(
        world["page"], world["request"], world["api_key"], NOW
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange SinglePartition") <= 1
    # the global fair-rank window is the only one ordering by
    # recent_processed (the fifo window's line merely *aliases*
    # fifo_rank, so match on the order key instead)
    win_lines = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "recent_processed" in ln
    ]
    assert win_lines, "fair-rank window missing from plan"
    for ln in win_lines:
        assert "_pid" in ln, f"unpartitioned fair-rank window: {ln}"


def test_j3_fair_assign_preferred_direct(world):
    got = scheduling.fair_assign_preferred(
        world["page"], world["request"], world["api_key"], NOW,
        preferred_engine_id=1,
    ).collect()
    assert len(got) == 1 and got[0].page_id == "p1"


def test_j3_fair_assign_preferred_fallback(world):
    # engine 2's only WAITING work belongs to the suspended tenant →
    # preferred pass is empty → any-engine fallback (general.py:129-140)
    got = scheduling.fair_assign_preferred(
        world["page"], world["request"], world["api_key"], NOW,
        preferred_engine_id=2,
    ).collect()
    assert len(got) == 1
    assert got[0].page_id == "p1"
    assert got[0].engine_id == 1  # the fallback reports the page's engine


def test_f6_auth_lookup_user(world):
    from pero_ocr_api_spark.operators import auth

    rows = auth.lookup_api_key(world["api_key"], "key_user_a").collect()
    assert len(rows) == 1 and rows[0].owner == "tenant a"
    assert auth.lookup_api_key(world["api_key"], "no_such_key").collect() == []


def test_f7_auth_permission_gate(world):
    from pero_ocr_api_spark.operators import auth

    assert auth.match_api_keys(world["api_key"], "key_super", auth.SUPER_USER)
    assert not auth.match_api_keys(world["api_key"], "key_user_a", auth.SUPER_USER)
    assert auth.match_api_keys(world["api_key"], "key_user_a", auth.USER)
    assert not auth.match_api_keys(world["api_key"], None, auth.USER)


def test_j4_request_belongs_to_api_key(world):
    from pero_ocr_api_spark.operators import auth

    assert auth.request_belongs_to_api_key(
        world["api_key"], world["request"], "key_user_a", "r1"
    )
    assert not auth.request_belongs_to_api_key(
        world["api_key"], world["request"], "key_user_b", "r1"
    )


def test_j7_latest_engine_versions(world):
    rows = {
        r.engine_id: r
        for r in scheduling.latest_engine_versions(
            world["engine"],
            world["engine_version"],
            world["engine_version_model"],
            world["model"],
        ).collect()
    }
    assert rows[1].version_id == 2  # max id per engine
    assert rows[1].models == ["czech_ocr", "universal_layout"]
    assert rows[2].version_id == 3
    assert rows[2].models == ["universal_layout"]
