"""Corpus-scale ANN self-join: plan shape (no broadcast required on
either side) + the clique→star cap under a constructed dense cluster —
the properties that decide whether full-corpus embedding dedup
survives a 100 TB run."""

from __future__ import annotations

from contextlib import contextmanager

import pytest

from pyspark.sql import functions as F

from pero_ocr_api_spark.operators import similarity
from pero_ocr_api_spark.sources.tables import read_table

SF = "/root/testdata/sf0.01"
DIM = 64

# deterministic base direction for the constructed dense cluster
_BASE = [((d * 37) % 100) / 50.0 - 1.0 for d in range(DIM)]


def _dense_cluster(spark, n):
    """n near-identical vectors (same direction, tiny scale spread) —
    the boilerplate-cluster analog in embedding space."""
    rows = [
        (i, [x * (1.0 + i * 1e-5) for x in _BASE]) for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


@contextmanager
def _no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_self_pairs_plan_has_no_broadcast_requirement(spark):
    """The plan must not *hint* a broadcast anywhere (both sides are
    the corpus), and must compile to pure shuffle joins when the
    optimizer is forbidden from choosing broadcast — i.e. nothing in
    the operator depends on either side fitting in memory. (At small
    scale Catalyst may still *choose* a broadcast; that is its call,
    not a requirement baked into the plan.)"""
    emb = read_table(spark, SF, "embeddings")
    with _no_broadcast(spark):
        df = similarity.ann_self_pairs(emb, 0.999, DIM)
        qe = df._jdf.queryExecution()
        analyzed = qe.analyzed().toString()
        assert "ResolvedHint" not in analyzed
        plan = qe.executedPlan().toString()
        assert "BroadcastExchange" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_self_pairs_finds_twins_without_broadcast(spark):
    """Scaled twins (cosine 1.0) must surface as pairs even with
    broadcasting disabled — the whole-corpus dedup path end to end."""
    emb = read_table(spark, SF, "embeddings")
    twins = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.1).alias("embedding"),
    )
    with _no_broadcast(spark):
        got = {
            (r.id1, r.id2)
            for r in similarity.ann_self_pairs(
                emb.select("vec_id", "embedding").unionByName(twins),
                0.999,
                DIM,
            ).collect()
        }
    assert {(i, i + 100_000) for i in range(10)} <= got


def test_self_pairs_dense_cluster_is_capped_linear(spark):
    """130 near-identical vectors all share every LSH bucket; the
    bucket (>{cap}) must collapse to a star around vec 0 — n-1 pairs,
    not the n(n-1)/2 clique that melts the shuffle at web scale."""
    n = 130
    cluster = _dense_cluster(spark, n)
    pairs = similarity.ann_self_pairs(cluster, 0.999, DIM).collect()
    got = {(r.id1, r.id2) for r in pairs}
    assert got == {(0, i) for i in range(1, n)}  # star, not clique
    assert all(abs(r.cosine - 1.0) < 1e-6 for r in pairs)


def test_self_pairs_small_buckets_emit_cliques(spark):
    """Below the cap the exact LSH semantics hold: every in-bucket
    pair is a candidate, so a 5-member cluster yields all 10 pairs."""
    n = 5
    cluster = _dense_cluster(spark, n)
    got = {
        (r.id1, r.id2)
        for r in similarity.ann_self_pairs(cluster, 0.999, DIM).collect()
    }
    assert got == {(i, j) for i in range(n) for j in range(i + 1, n)}


# --- trained IVF: partition balance on ingest-clustered data ---------------


@pytest.fixture(scope="module")
def clustered_corpus(spark):
    """Corpus whose FIRST nlist vectors are near-identical — the
    clustered-by-ingest layout where the naive first-n centroid init
    collapses into one region of the space."""
    emb = similarity.as_double_vec(
        read_table(spark, SF, "embeddings")
    ).select("vec_id", "v")
    base = [F.lit(x) for x in _BASE]
    clustered = emb.withColumn(
        "v",
        F.when(
            F.col("vec_id") < similarity.IVF_NLIST,
            F.array(*base),
        ).otherwise(F.col("v")),
    )
    out = clustered.select(
        "vec_id", F.col("v").cast("array<float>").alias("embedding")
    ).cache()
    out.count()
    return out


def _cell_shares(emb, trained):
    e = similarity._with_norm(emb)
    if trained:
        cents = similarity.trained_centroids(emb)
    else:
        cents = e.filter(F.col("vec_id") < similarity.IVF_NLIST).select(
            F.col("vec_id").alias("cell"),
            F.col("v").alias("cv"),
            F.col("norm").alias("cn"),
        )
    cells = similarity.ivf_assign(e, cents, 1)
    sizes = [r.n for r in cells.groupBy("cell").agg(F.count("*").alias("n")).collect()]
    return max(sizes) / sum(sizes), len(sizes)


def test_trained_centroids_balance_ingest_clustered_corpus(clustered_corpus):
    """The scale property k-means training buys: the inverted file's
    cells are its *partitions*, and with first-n init on
    ingest-clustered data nearly the whole corpus lands in one cell
    (one executor owns the corpus — the IVF skew disaster). Spread
    sample + Lloyd must cut the max cell share sharply."""
    naive_share, _ = _cell_shares(clustered_corpus, trained=False)
    trained_share, trained_cells = _cell_shares(clustered_corpus, trained=True)
    # naive: 16 coincident centroids -> ties send everything to one cell
    assert naive_share > 0.9
    assert trained_share < 0.5 * naive_share
    assert trained_cells > 1


def test_trained_ivf_recall_floor_on_clustered_corpus(spark, clustered_corpus):
    """Recall must survive the degenerate ingest order too (nprobe=4
    of nlist=16 cells scanned)."""
    k = 5
    qids = clustered_corpus.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 120)
    ).select("vec_id")
    exact = {
        (r.qid, r.vec_id)
        for r in similarity.cosine_topk(clustered_corpus, qids, k).collect()
    }
    trained = {
        (r.qid, r.vec_id)
        for r in similarity.ivf_topk(
            clustered_corpus, qids, k, similarity.trained_centroids(clustered_corpus)
        ).collect()
    }
    assert len(trained & exact) / len(exact) >= 0.5


def test_release_query_caches(spark):
    """Query-level caches (LSH bands, winnow intermediates, the
    similarity operators' normed vectors and bands) are recorded under
    the query scope of the session cache registry, the corpus memos
    (mega bands, trained IVF centroids) under their memo scopes; one
    release frees each. Asserted on the recorded DataFrames' own
    storage levels (a global getPersistentRDDs count is noisy:
    unrelated localCheckpoint RDDs unpersist on GC)."""
    from pero_ocr_api_spark import session
    from pero_ocr_api_spark.plans import queries_textops as qt

    session.release(*session.QUERY_SCOPE)  # from any earlier test
    session.release("memo")
    sf_small = "/root/testdata/sf0.001"
    qt.q_minhash_lsh_pairs(spark, sf_small).count()
    qt.q_winnow_overlap(spark, sf_small).count()
    qt.q_lsh_mega_bucket_pairs(spark, sf_small).count()
    qt.q_ann_self_near_pairs(spark, sf_small).count()  # similarity caches
    qt.q_ivf_topk(spark, sf_small).count()  # trained-centroid memo
    query = list(session._CACHES[session.QUERY_SCOPE])
    memos = [k for k in session._CACHES if k[0] == "memo"]
    tracked = query + [df for k in memos for df in session._CACHES[k]]
    assert len(query) >= 4  # bands, winnow hashes, e + bands of ann_self_pairs
    assert {k[1] for k in memos} == {"mega_bands", "ivf_cents"}
    assert any(df.storageLevel.useMemory for df in tracked)
    session.release(*session.QUERY_SCOPE)
    session.release("memo")
    assert not [k for k in session._CACHES if k[0] in ("query", "memo")]
    assert all(not df.storageLevel.useMemory for df in tracked)


def test_ivf_centroids_amortized_across_calls(spark):
    """Per-call k-means training was the r3 perf regression: the
    second q_ivf_topk call in a session must reuse the per-(session,
    corpus) centroid table, not retrain (object identity of the memo
    entry across calls)."""
    from pero_ocr_api_spark import session
    from pero_ocr_api_spark.plans import queries_textops as qt

    session.release("memo")
    sf_small = "/root/testdata/sf0.001"

    def memo_entries():
        return [
            df for k, dfs in session._CACHES.items()
            if k[:2] == ("memo", "ivf_cents") for df in dfs
        ]

    qt.q_ivf_topk(spark, sf_small).count()
    cents1 = memo_entries()
    qt.q_ivf_topk(spark, sf_small).count()
    cents2 = memo_entries()
    assert len(cents1) == 1 and cents1[0] is cents2[0]
    session.release("memo")


def test_embedding_dedup_keep_drops_exactly_the_twins(spark):
    """Composed 5th-family keep-list (q_embedding_dedup_keep): every
    constructed twin id is dropped (a twin is always id2 of its pair —
    its id exceeds every original in its bucket) and, at threshold
    0.999 on this corpus, every original survives: random 64-dim
    vectors never reach 0.999 cosine, so the only near-pairs are the
    twin↔original ones."""
    from pero_ocr_api_spark.plans import queries_textops as qt

    emb = read_table(spark, SF, "embeddings")
    total = emb.count()
    kept = qt.q_embedding_dedup_keep(spark, SF)
    ids = [r.vec_id for r in kept.collect()]
    assert len(ids) == total  # all originals kept
    assert max(ids) < qt.NEARDUP_OFFSET  # every twin dropped
