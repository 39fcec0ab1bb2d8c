"""The timed extract plan must keep the work users pay for.

Run from the repository root: ``python -m pytest perfbench/tests -q``.

Timing ``extracted.count()`` lets the optimizer prune the HTML
cleaner's regexps and restitch's ``collect_list`` aggregate, so a
benchmark that counts never times them. These tests read the physical
plans Spark actually executed (its SQL status store) during one timed
benchmark run and assert both are still there; the control shows that
the same probe sees them vanish under ``.count()``.
"""

from __future__ import annotations

import os
import shutil

import pytest

from perfbench import host, run
from perfbench.extract_bench import ExtractWorkload


@pytest.fixture(scope="module")
def spark():
    work = os.path.join(run.WORK_ROOT, f"test-{os.getpid()}")
    run.prepare_env(work)
    session = run.start_session("test", 2, host.HEAP_MIN_MB, work)
    yield session
    run.stop_session(session)
    run.stop_gateway()
    shutil.rmtree(work, ignore_errors=True)


@pytest.fixture(scope="module")
def workload(spark, tmp_path_factory):
    from pero_ocr_api_spark.corpus import doc_record

    wl = ExtractWorkload(3, str(tmp_path_factory.mktemp("extract")), 2)
    for idx in range(12):
        doc, media = doc_record(3, idx)
        wl.docs.append(doc)
        wl.media.extend(media)
    wl.stage(spark)
    return wl


def _executions(spark):
    """Spark's SQL executions, as recorded in its status store."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    execs = conv.asJava(spark._jsparkSession.sharedState().statusStore().executionsList())
    return [execs.get(i) for i in range(execs.size())]


def _plans_of(spark, action) -> str:
    """Physical plans of the SQL executions ``action`` ran."""
    seen = {e.executionId() for e in _executions(spark)}
    action()
    return "\n".join(
        e.physicalPlanDescription() for e in _executions(spark) if e.executionId() not in seen
    )


def test_timed_extract_plan_keeps_cleaner_and_restitch(spark, workload):
    plans = _plans_of(spark, lambda: workload.batch(spark, "plan-shape"))
    assert "regexp" in plans
    assert "collect_list" in plans


def test_count_prunes_them(spark, workload):
    from pero_ocr_api_spark.plans.extract import release_run, run_extract

    extracted, _ = run_extract(spark, workload.docs_df, workload.media_df, run_id="count")
    plans = _plans_of(spark, extracted.count)
    release_run("count")
    assert "regexp" not in plans
    assert "collect_list" not in plans
