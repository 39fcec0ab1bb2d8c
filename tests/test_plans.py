"""Physical-plan assertions: the optimizations we rely on at 100 TB
must be visible in the plan, not assumed (predicate pushdown, column
pruning, broadcast dims, no stray shuffles)."""

from __future__ import annotations

import pytest

from pero_ocr_api_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = QUERIES[name][0](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(spark, name: str) -> str:
    df = QUERIES[name][0](spark, SF)
    return spark.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_point_lookup_pushdown(spark):
    plan = _formatted(spark, "point_lookup")
    assert "EqualTo(c_custkey,42)" in plan  # filter reached the scan
    # column pruning: only the 3 projected columns are read
    assert "ReadSchema: struct<c_custkey:bigint,c_name:string,c_mktsegment:string>" in plan


def test_usage_statistics_broadcasts_dims(spark):
    plan = _plan(spark, "usage_statistics")
    assert plan.count("BroadcastHashJoin") == 2  # customer + orders side
    assert "SortMergeJoin" not in plan
    f = _formatted(spark, "usage_statistics")
    assert "GreaterThanOrEqual(o_orderdate" in f  # range pushed down


def test_expiry_scan_no_shuffle(spark):
    plan = _plan(spark, "expiry_scan")
    assert "Exchange" not in plan
    f = _formatted(spark, "expiry_scan")
    assert "LessThan(o_orderdate" in f


def test_cancel_anti_join_broadcast(spark):
    plan = _formatted(spark, "cancel_anti_join")
    assert "BroadcastHashJoin LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_fair_dequeue_single_shuffle(spark):
    # window top-1 = exactly one exchange on the partition key
    plan = _plan(spark, "fair_dequeue")
    assert plan.count("Exchange") <= 2  # hashpartition (+AQE read)
    f = _formatted(spark, "fair_dequeue")
    assert "EqualTo(o_orderstatus,O)" in f


def test_text_path_stays_in_jvm(spark, docs_df):
    """The X9 cleaner must compile to pure Catalyst expressions —
    no Python evaluation nodes in the plan."""
    from pero_ocr_api_spark.plans.extract import text_path
    from pyspark.sql import functions as F

    spans = docs_df.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )
    plan = text_path(spans)._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "PythonUDF"):
        assert marker not in plan


def test_extract_media_stage_partitioning(spark, docs_df, media_df):
    """The explicit pre-UDF repartition must survive optimization."""
    from pero_ocr_api_spark.plans.extract import run_extract

    extracted, _ = run_extract(spark, docs_df, media_df, run_id="plantest")
    plan = extracted._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "hashpartitioning(media_ref" in plan


def test_top_ngrams_takeordered_with_partials(spark):
    """Corpus top-k must be a TakeOrdered over per-partition heaps
    (no global sort materializes 100 TB of gram counts), fed by
    partial aggregation (map-side combine before the one shuffle)."""
    plan = _plan(spark, "top_ngrams")
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan


def test_source_overlap_scans_corpus_once(spark):
    """The signature table is cached before the pairwise self-join:
    both join sides must read the cache, not re-run the corpus scan
    + shingle hashing (the ann_self_pairs lesson)."""
    from pero_ocr_api_spark.session import QUERY_SCOPE, release

    try:
        plan = _plan(spark, "source_overlap")
        assert plan.count("InMemoryTableScan") >= 2
        assert "partial_min" in plan  # map-side minima for the signature
    finally:
        release(*QUERY_SCOPE)
