"""ANN recall: multi-probe must dominate single-probe at identical
index cost (corpus side unchanged; only query rows fan out)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pero_ocr_api_spark.operators import similarity
from pero_ocr_api_spark.sources.tables import read_table

SF = "/root/testdata/sf0.01"
K = 5
DIM = 64
N_QUERIES = 20


@pytest.fixture(scope="module")
def topk_sets(spark):
    emb = read_table(spark, SF, "embeddings").cache()
    emb.count()
    qids = emb.filter(F.col("vec_id") < N_QUERIES).select("vec_id")
    def pairs(df):
        return {(r.qid, r.vec_id) for r in df.collect()}
    exact = pairs(similarity.cosine_topk(emb, qids, K))
    single = pairs(similarity.ann_topk(emb, qids, K, DIM))
    multi = pairs(similarity.ann_topk_multiprobe(emb, qids, K, DIM))
    ivf = pairs(similarity.ivf_topk(emb, qids, K, similarity.trained_centroids(emb)))
    return exact, single, multi, ivf


def test_multiprobe_dominates_single_probe(topk_sets):
    exact, single, multi, _ = topk_sets
    recall_single = len(single & exact) / len(exact)
    recall_multi = len(multi & exact) / len(exact)
    assert recall_multi >= recall_single
    # 1-bit probing scans ~(planes+1)/2^planes of each table vs
    # 1/2^planes — on unstructured vectors recall tracks coverage,
    # so multi-probe must clear a floor single-probe cannot
    assert recall_multi >= 0.5, (recall_single, recall_multi)


def test_ivf_recall_floor(topk_sets):
    exact, _, _, ivf = topk_sets
    # nprobe/nlist = 4/16 scans ~25% of the inverted file; measured
    # 0.61 at sf0.01 (trained centroids) — assert a conservative floor
    assert len(ivf & exact) / len(exact) >= 0.5
