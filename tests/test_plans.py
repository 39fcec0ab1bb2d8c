"""Physical-plan assertions: the optimizations we rely on at 100 TB
must be visible in the plan, not assumed (predicate pushdown, column
pruning, broadcast dims, no stray shuffles)."""

from __future__ import annotations

import itertools
import re

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
    from pero_ocr_api_spark.plans.extract import release_run, run_extract

    extracted, _ = run_extract(spark, docs_df, media_df, run_id="plantest")
    plan = extracted._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "hashpartitioning(media_ref" in plan
    # fewer UDF partitions than spark.sql.shuffle.partitions: the
    # sort-merge media join must not raise the count (one lineage row
    # per UDF partition)
    _, lineage = run_extract(spark, docs_df, media_df, run_id="plantest4", udf_partitions=3)
    assert lineage.count() == 3
    release_run("plantest")
    release_run("plantest4")


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


@pytest.mark.parametrize(
    "name",
    [
        "top_ngrams",
        "minhash_lsh_pairs",
        "lsh_mega_bucket_pairs",
        "lm_quality_scores",
        "vocab_topk",
        "pack_sequences",
    ],
)
def test_gram_paths_have_no_lambdas(spark, name):
    """The corpus-scan gram and token paths stay flat: grams come from
    dedup.exploded_word_grams, never a ``transform(sequence…)`` gram,
    whose lambda runs on the interpreted expression path (~20x slower
    on the scan)."""
    from pero_ocr_api_spark.session import QUERY_SCOPE, release

    try:
        df = QUERIES[name][0](spark, SF)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("lambdafunction") == 0
    finally:
        release(*QUERY_SCOPE)


def _nodes(node) -> list:
    kids = node.children()
    return [node] + [n for i in range(kids.size()) for n in _nodes(kids.apply(i))]


def _names(seq) -> list[str]:
    return [seq.apply(i).toString().split("#")[0] for i in range(seq.size())]


@pytest.mark.parametrize("name", ["ann_topk", "ann_multiprobe_topk", "ivf_topk"])
def test_ann_topk_rescores_deduped_candidates(spark, name):
    """The approximate top-k operators share one rescore body: the
    (qid, vec_id) candidates are deduplicated by an Aggregate *below*
    the join that brings in the vectors (a duplicate candidate is never
    re-scored), and the query-vector side is broadcast-hinted."""
    from pero_ocr_api_spark.session import QUERY_SCOPE, release

    try:
        df = QUERIES[name][0](spark, SF)
        joins = [
            n for n in _nodes(df._jdf.queryExecution().optimizedPlan())
            if n.nodeName() == "Join"
        ]
        [v_join] = [
            j for j in joins
            if "v" in _names(j.right().output())
            and _names(j.left().output()) == ["qid", "vec_id"]
        ]
        assert any(
            n.nodeName() == "Aggregate"
            and _names(n.groupingExpressions()) == ["qid", "vec_id"]
            and _names(n.output()) == ["qid", "vec_id"]
            for n in _nodes(v_join.left())
        )
        [q_join] = [j for j in joins if "qv" in _names(j.right().output())]
        hint = q_join.hint().rightHint()
        assert hint.isDefined()
        assert hint.get().strategy().get().toString() == "broadcast"
    finally:
        release(*QUERY_SCOPE)


def test_no_registry_query_plans_a_percentile(spark):
    """Exact medians come from one typed sort_array
    (portable.sorted_median), never from Spark's ``percentile``, which
    keeps a boxed hash map of every distinct value, serializes it
    through the shuffle and sorts it again at eval time."""
    from pero_ocr_api_spark.session import QUERY_SCOPE, release

    try:
        for name, (build, *_) in QUERIES.items():
            plan = build(spark, SF)._jdf.queryExecution().optimizedPlan()
            assert "percentile(" not in plan.toString(), name
    finally:
        release(*QUERY_SCOPE)


def _assert_typed_reassembly(plan) -> None:
    """Every aggregate that collects a list sorts it with ``sort_array``
    (typed ordering) and reads fields back by projection: no
    ``array_sort`` (an interpreted comparator lambda) and no lambda in
    the collecting expression, nor one over a collected column in the
    node above the aggregate."""
    edges = [(None, plan)] + [
        (n, n.children().apply(i)) for n in _nodes(plan) for i in range(n.children().size())
    ]
    n_sites = 0
    for above, agg in edges:
        if agg.nodeName() != "Aggregate":
            continue
        exprs = agg.aggregateExpressions()
        for e in (exprs.apply(i) for i in range(exprs.size())):
            s = e.toString()
            if "collect_list" not in s:
                continue
            n_sites += 1
            assert "array_sort" not in s and "lambdafunction" not in s, s
            if above is not None:
                hof = rf"\w+\({e.name()}#\d+L?, lambdafunction"
                assert not re.search(hof, above.expressions().toString())
    assert n_sites


@pytest.mark.parametrize(
    "name",
    [
        "median_score",
        "tokenize_corpus",
        "tokenize_corpus_bpe",
        "line_dedup_stats",
        "pack_blocks",
    ],
)
def test_reassembly_sorts_are_typed(spark, name):
    from pero_ocr_api_spark.session import QUERY_SCOPE, release

    try:
        df = QUERIES[name][0](spark, SF)
        _assert_typed_reassembly(df._jdf.queryExecution().optimizedPlan())
    finally:
        release(*QUERY_SCOPE)


_GROUPS = itertools.count()


def _jobs(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` runs, counted in a job group."""
    sc = spark.sparkContext
    group = f"job-count-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_trainers_collect_their_bounded_state_once(spark):
    """BPE merges and IVF Lloyd iterations run on the driver over state
    collected once, not as Spark jobs per round or iteration (29 and
    18 jobs when they did)."""
    from pero_ocr_api_spark.operators import bpe, similarity
    from pero_ocr_api_spark.sources.tables import read_table

    def bpe_train():
        segments, merges = bpe.bpe_train(read_table(spark, SF, "documents"))
        segments.collect(), merges.collect()

    emb = read_table(spark, SF, "embeddings")
    assert _jobs(spark, bpe_train) <= 4
    assert _jobs(spark, lambda: similarity.trained_centroids(emb).collect()) <= 8


def test_bpe_train_refuses_more_words_than_it_may_collect(spark, monkeypatch):
    from pero_ocr_api_spark.operators import bpe

    docs = spark.createDataFrame([(1, "ab cd ef")], "doc_id long, text string")
    monkeypatch.setattr(bpe, "BPE_MAX_WORDS", 2)
    with pytest.raises(ValueError, match="BPE_MAX_WORDS=2"):
        bpe.bpe_train(docs)


def test_components_round_is_one_job(spark):
    """Each propagation round is one action: the label checkpoint, with
    the fixpoint count read from an observation on it. Adaptive
    execution runs each shuffle stage as its own job and a broadcast
    runs one too, so both are off here and an action is one job: two
    setup checkpoints, one job per round and the final collect."""
    from pero_ocr_api_spark.operators import dedup

    edges = spark.createDataFrame([(i, i + 1) for i in range(64)], "id1 long, id2 long")
    report: dict = {}
    confs = {"spark.sql.adaptive.enabled": "false", "spark.sql.autoBroadcastJoinThreshold": "-1"}
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        n = _jobs(spark, lambda: dedup.connected_components(edges, report).collect())
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert report["rounds"] == 7
    assert n == 2 + report["rounds"] + 1


def _write_description(spark, path: str) -> str:
    """The plan description of the write into ``path``, from Spark's SQL
    status store (logical plans, then the physical plan)."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    execs = conv.asJava(spark._jsparkSession.sharedState().statusStore().executionsList())
    # newest first: the list is in execution-id order
    return next(
        d
        for d in (execs.get(i).physicalPlanDescription() for i in reversed(range(execs.size())))
        if path in d
    )


def _final_plan(plan: str) -> str:
    """The final (AQE-materialized) physical plan of a write
    description. Each nested AQE plan keeps only its ``Final Plan``
    part."""
    tree = []
    for ln in plan.split("== Physical Plan ==")[1].strip().splitlines():
        if tree and not re.match(r"[ :]*[+:]- ", ln):
            tree[-1] += ln  # a newline inside an expression (the regexes)
        else:
            tree.append(ln)
    kept, skip_below = [], None
    for ln in tree:
        depth = _depth(ln)
        if skip_below is not None and depth > skip_below:
            continue
        skip_below = depth if "== Initial Plan ==" in ln else None
        if skip_below is None:
            kept.append(ln)
    return "\n".join(kept)


def _depth(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def _subtree(lines: list[str], i: int) -> list[str]:
    out = []
    for ln in lines[i + 1 :]:
        if _depth(ln) <= _depth(lines[i]):
            break
        out.append(ln)
    return out


def test_extract_write_plan_shape(spark, docs_df, media_df, tmp_path):
    """The executed plan of one extract run's write: the media blobs are
    shuffled once and never broadcast, restitch is one groupBy(doc_id)
    (one Exchange between the union and the write, no salt, typed
    sorts), and the write reads no cache of the restitch output. The media-UDF cache
    and the cached input tables stay."""
    from pero_ocr_api_spark.plans.extract import release_run, run_extract
    from pero_ocr_api_spark.plans.io import write_extracted

    out = str(tmp_path / "extracted")
    extracted, _ = run_extract(spark, docs_df, media_df, run_id="write_plan")
    mode = spark.conf.get("spark.sql.ui.explainMode")
    # extended: the status store then keeps each node's expressions
    # inline in the tree, not in a separate formatted section
    spark.conf.set("spark.sql.ui.explainMode", "extended")
    try:
        write_extracted(spark, extracted, out)
        desc = _write_description(spark, out)
    finally:
        spark.conf.set("spark.sql.ui.explainMode", mode)
        release_run("write_plan")
    plan = _final_plan(desc)
    lines = plan.splitlines()
    assert "MapInPandas" in plan
    assert "BroadcastExchange" not in plan
    assert "pmod(hash(offset" not in plan
    # restitch sorts with the typed sort_array; the physical aggregate
    # does not print its result expressions, the optimized plan does
    optimized = desc.split("== Optimized Logical Plan ==")[1].split("== Physical Plan ==")[0]
    assert "sort_array(collect_list" in optimized
    assert "array_sort" not in optimized
    (union,) = [i for i, ln in enumerate(lines) if ln.lstrip(" :+-").startswith("Union")]
    above = [lines[i] for i in range(union) if union - 1 - i < len(_subtree(lines, i))]
    exchanges = [ln for ln in above if "Exchange" in ln]
    assert len(exchanges) == 1
    assert "hashpartitioning(doc_id" in exchanges[0]
    cached = [i for i, ln in enumerate(lines) if "InMemoryRelation" in ln]
    assert any("MapInPandas" in "".join(_subtree(lines, i)) for i in cached)
    for i in cached:
        assert "collect_list" not in "".join(_subtree(lines, i))


def test_warm_run_extract_plan_build_py4j_calls(spark, docs_df, media_df, monkeypatch):
    """Every Column a run uses is built once per SparkContext, so a warm
    run_extract builds its plan in a few hundred py4j round trips
    (rebuilding them took 2,400-3,000). Releases of handles that earlier
    work dropped (py4j memory commands) are not the build's calls."""
    import gc

    from py4j.protocol import MEMORY_COMMAND_NAME

    from pero_ocr_api_spark.plans.extract import release_run, run_extract

    run_extract(spark, docs_df, media_df, run_id="py4j_warm")
    release_run("py4j_warm")
    gc.collect()
    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, []

    def counting(command, *args, **kwargs):
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    try:
        run_extract(spark, docs_df, media_df, run_id="py4j_count")
    finally:
        monkeypatch.undo()
        release_run("py4j_count")
    assert 0 < len(calls) <= 400
