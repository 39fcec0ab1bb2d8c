"""Session defaults and the session cache registry: driver heap sized
from the host, and one lifecycle for every persisted DataFrame."""

from __future__ import annotations

import importlib
import sys

import pytest

from __spark_entry__ import SF_SMOKE as SF
from pero_ocr_api_spark import session


def _meminfo(tmp_path, kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemFree:         1000 kB\nMemTotal:       {kb} kB\n")
    return str(p)


def test_driver_memory_is_half_the_host_capped_at_32g(tmp_path):
    assert session.driver_memory(_meminfo(tmp_path, 16 * 1024 * 1024)) == "8192m"
    assert session.driver_memory(_meminfo(tmp_path, 15_728_640 + 1000)) == "7680m"
    assert session.driver_memory(_meminfo(tmp_path, 512 * 1024 * 1024)) == "32768m"
    # no procfs: the OS page count stands in
    assert session.driver_memory(str(tmp_path / "missing")).endswith("m")


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_cache_scope_releases_when_the_block_raises(spark):
    before = _persisted_ids(spark)
    with pytest.raises(RuntimeError):
        with session.cache_scope() as key:
            df = session.cache(spark.range(100).selectExpr("id * 2 AS x"))
            df.count()
            assert df.storageLevel.useMemory
            assert key in session._CACHES
            raise RuntimeError("stage failed")
    assert key not in session._CACHES
    assert not df.storageLevel.useMemory
    assert _persisted_ids(spark) <= before


def test_nested_scope_is_freed_with_its_parent(spark):
    with session.cache_scope() as outer:
        inner = (*outer, "inner")
        df = session.cache(spark.range(10), inner)
        assert session._CACHES[inner] == [df]
    assert inner not in session._CACHES
    assert not df.storageLevel.useMemory


def test_next_query_releases_previous_query_caches(spark):
    """Building a query through QUERIES frees what the previous query
    cached, while the corpus memos keep their identity."""
    from pero_ocr_api_spark.plans import queries_textops as qt
    from pero_ocr_api_spark.plans.queries import QUERIES

    QUERIES["point_lookup"][0](spark, SF)  # frees any earlier query's caches
    before = _persisted_ids(spark)
    cents = qt._ivf_cents(spark, SF)
    QUERIES["ann_self_near_pairs"][0](spark, SF).count()
    first = list(session._CACHES[session.QUERY_SCOPE])
    assert len(first) >= 2  # normed vectors + bands
    assert all(df.storageLevel.useMemory for df in first)
    QUERIES["ivf_topk"][0](spark, SF).count()
    assert all(not df.storageLevel.useMemory for df in first)
    assert qt._ivf_cents(spark, SF) is cents
    QUERIES["point_lookup"][0](spark, SF)
    assert session.QUERY_SCOPE not in session._CACHES
    # only the memo's checkpoint may outlive the queries
    memo_rdds = _persisted_ids(spark) - before
    assert len(memo_rdds) <= 1


def test_memo_keeps_one_live_entry_per_kind(spark):
    a = session.memo("test_kind", "a", lambda: session.cache(spark.range(3)))
    assert session.memo("test_kind", "a", lambda: spark.range(4)) is a
    a.count()
    b = session.memo("test_kind", "b", lambda: spark.range(5))
    assert not a.storageLevel.useMemory
    assert [k for k in session._CACHES if k[:2] == ("memo", "test_kind")] == [
        ("memo", "test_kind", "b")
    ]
    assert session.memo("test_kind", "b", lambda: spark.range(6)) is b
    session.release("memo", "test_kind")


def test_registry_import_failure_raises(monkeypatch):
    """A broken query submodule must fail the registry import, never
    silently drop its queries."""
    monkeypatch.delitem(sys.modules, "pero_ocr_api_spark.plans.queries")
    monkeypatch.setitem(sys.modules, "pero_ocr_api_spark.plans.queries_events", None)
    with pytest.raises(ImportError):
        importlib.import_module("pero_ocr_api_spark.plans.queries")


def test_checkpoint_is_freed_with_its_scope(spark):
    """``checkpoint`` cuts the plan to a scan of the stored rows, and
    its stored RDD is released with the scope, also on a raise."""
    before = _persisted_ids(spark)
    with pytest.raises(RuntimeError):
        with session.cache_scope():
            df = session.checkpoint(spark.range(100).selectExpr("id % 7 AS k").distinct())
            assert df.count() == 7
            assert _persisted_ids(spark) - before
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "LogicalRDD" in plan and "Range" not in plan
            raise RuntimeError("stage failed")
    assert _persisted_ids(spark) <= before


def test_columns_are_built_once_per_spark_context(spark, monkeypatch):
    """``per_context`` builds once per context, and a new
    SparkContext never gets Columns built against an old one."""
    from types import SimpleNamespace

    from pyspark import SparkContext

    from pero_ocr_api_spark.plans import extract

    first = extract._text_cols()
    assert extract._text_cols() is first
    # a second context on the same gateway, so the build can run
    real = SparkContext._active_spark_context
    other = SimpleNamespace(_jvm=real._jvm, _gateway=real._gateway)
    monkeypatch.setattr(SparkContext, "_active_spark_context", other)
    second = extract._text_cols()
    assert second is not first
    assert extract._text_cols() is second
    monkeypatch.undo()
    third = extract._text_cols()
    assert third is not first and third is not second
