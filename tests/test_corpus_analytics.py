"""Corpus analytics operators: boilerplate-phrase top-k (top_ngrams)
and cross-source MinHash overlap (source_overlap) on constructed
corpora where the expected answer is known exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

from pero_ocr_api_spark.operators import dedup
from pero_ocr_api_spark.plans.queries_textops import TOP_NGRAM_N


def _doc_freq(df):
    """The gram stream and count q_top_ngrams runs."""
    grams = dedup.exploded_word_grams(
        df, dedup.tokens_col(F.col("text")), TOP_NGRAM_N
    )
    return grams.groupBy("gram").agg(
        F.count_distinct(F.col("doc_id")).alias("doc_freq")
    )


def test_boilerplate_phrase_tops_doc_frequency(spark):
    # 30 docs share a footer phrase; body words are unique per doc, so
    # no body 3-gram can repeat across documents.
    rows = [
        (i, f"body{i}a body{i}b body{i}c copyright acme corp")
        for i in range(30)
    ]
    rows += [(100 + i, f"solo{i}x solo{i}y solo{i}z") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    top = _doc_freq(df).orderBy(
        F.col("doc_freq").desc(), F.col("gram").asc()
    ).first()
    assert top.gram == "copyright acme corp"
    assert top.doc_freq == 30


def test_ngram_texts_distinct_within_doc(spark):
    # A phrase repeated INSIDE one doc counts once: boilerplate is a
    # cross-document signal, intra-doc repetition is repetition_stats.
    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam")], "doc_id long, text string"
    )
    rows = _doc_freq(df).collect()
    assert [(r.gram, r.doc_freq) for r in rows] == [("spam spam spam", 1)]


def test_short_doc_yields_no_ngrams(spark):
    df = spark.createDataFrame([(1, "two words")], "doc_id long, text string")
    assert _doc_freq(df).count() == 0


def _source_sigs(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    return dedup.minhash_signatures(df, id_col="source")


def test_identical_sources_agree_on_all_slots(spark):
    # Two sources with the same shingle set must agree on every one of
    # the MINHASH_K signature slots; a disjoint third source must not
    # agree on all of them.
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "uno dos tres cuatro cinco seis siete ocho nueve diez"
    rows = [
        (1, text, "srcA"),
        (2, text, "srcB"),
        (3, other, "srcC"),
    ]
    sigs = _source_sigs(spark, rows)
    pairs = (
        sigs.alias("a")
        .join(sigs.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("sa"),
            F.col("b.source").alias("sb"),
            F.size(
                F.filter(
                    F.zip_with("a.signature", "b.signature", lambda x, y: x == y),
                    lambda v: v,
                )
            ).alias("n_agree"),
        )
        .collect()
    )
    agree = {(r.sa, r.sb): r.n_agree for r in pairs}
    assert agree[("srcA", "srcB")] == dedup.MINHASH_K
    assert agree[("srcA", "srcC")] < dedup.MINHASH_K


def test_source_signature_is_union_of_docs(spark):
    # A source's signature is the min over the UNION of its docs'
    # shingles: splitting one corpus across many docs must not change
    # the source-level signature.
    words = [f"w{i}" for i in range(12)]
    whole = " ".join(words)
    rows_one = [(1, whole, "s")]
    # Split into overlapping windows that together cover the same
    # shingle (3-gram) set.
    rows_split = [
        (i, " ".join(words[i : i + 4]), "s") for i in range(0, 9)
    ]
    sig_one = _source_sigs(spark, rows_one).first().signature
    sig_split = _source_sigs(spark, rows_split).first().signature
    assert sig_one == sig_split
