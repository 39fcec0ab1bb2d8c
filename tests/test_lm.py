"""Unit tests for the corpus bigram LM scorer (operators/lm.py)."""

from __future__ import annotations

import math

from pero_ocr_api_spark.operators.lm import bigram_lm_scores


def _q16(x: float) -> float:
    return math.floor(x * 65536.0 + 0.5) / 65536.0


def test_bigram_lm_hand_computed(spark):
    # corpus: unigrams a:3 b:2 c:1 -> V=3
    # bigrams: "a b" x2, "b a" x1, "b c" x1
    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "A b, c!")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["n_bigrams"], r["novel_bigrams"], r["sum_lp"])
        for r in bigram_lm_scores(docs).collect()
    }
    # doc1: "a b" (c2=2, c1(a)=3), "b a" (c2=1, c1(b)=2)
    lp1 = _q16(math.log(3.0) - math.log(6.0)) + _q16(
        math.log(2.0) - math.log(5.0)
    )
    # doc2: "a b" (c2=2, c1(a)=3), "b c" (c2=1, c1(b)=2) — same values
    assert out[1] == (2, 1, lp1)
    assert out[2] == (2, 1, lp1)


def test_bigram_lm_no_window_over_occurrence_stream(spark):
    # the bigram model side must be an aggregate+equi-join, never a
    # count window over the exploded occurrence stream: WindowExec
    # partitions cannot be split by AQE skew handling, so a head gram
    # ("of the") would serialize the stage at web scale
    docs = spark.createDataFrame(
        [(i, "a b c d e") for i in range(20)], "doc_id long, text string"
    )
    plan = (
        bigram_lm_scores(docs)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "Window" not in plan


def test_bigram_lm_short_docs_dropped(spark):
    docs = spark.createDataFrame(
        [(1, "single"), (2, ""), (3, "two tokens")],
        "doc_id long, text string",
    )
    rows = bigram_lm_scores(docs).collect()
    assert [r["doc_id"] for r in rows] == [3]


def test_bigram_lm_tokenizer_case_and_punct(spark):
    # tokenizer folds case and splits on non-alphanumerics, so these
    # two docs are the same token stream -> identical scores
    docs = spark.createDataFrame(
        [(1, "Hello, WORLD 42"), (2, "hello world-42")],
        "doc_id long, text string",
    )
    rows = bigram_lm_scores(docs).collect()
    vals = {r["doc_id"]: (r["n_bigrams"], r["sum_lp"]) for r in rows}
    assert vals[1] == vals[2]


def test_vocab_topk_deterministic_order(spark):
    from pero_ocr_api_spark.operators.lm import vocab_topk

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "a b c")], "doc_id long, text string"
    )
    rows = {r["tok"]: (r["token_id"], r["n"]) for r in vocab_topk(docs, k=2).collect()}
    assert rows == {"a": (1, 3), "b": (2, 2)}  # count desc, tok asc


def test_encode_docs_hand_computed(spark):
    import hashlib

    from pero_ocr_api_spark.operators.lm import encode_docs, vocab_topk

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "a b c")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_unk"], r["ids_md5"])
        for r in encode_docs(docs, vocab_topk(docs, k=2)).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert out[1] == (3, 0, md5("1,2,1"))
    assert out[2] == (3, 1, md5("1,2,0"))  # 'c' is UNK


def test_global_prefix_sum_exact(spark):
    from pero_ocr_api_spark.operators.lm import global_prefix_sum

    df = spark.createDataFrame(
        [(i, (i * 7) % 5 + 1) for i in range(200)], "k long, v long"
    ).repartition(8)
    out = {r["k"]: r["prefix_sum"] for r in global_prefix_sum(df, ["k"], "v").collect()}
    run = 0
    for i in range(200):
        assert out[i] == run
        run += (i * 7) % 5 + 1


def test_global_prefix_sum_no_single_partition_data_exchange(spark):
    from pero_ocr_api_spark.operators.lm import global_prefix_sum

    df = spark.createDataFrame(
        [(i, 1) for i in range(100)], "k long, v long"
    ).repartition(8)
    plan = (
        global_prefix_sum(df, ["k"], "v")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the only SinglePartition exchange allowed is the P-row offset
    # table (its input is an aggregate over partition ids, not data)
    import re

    singles = plan.count("Exchange SinglePartition")
    assert singles <= 1
    assert "rangepartitioning" in plan


def test_pack_sequences_hand_computed(spark):
    from pero_ocr_api_spark.operators.lm import pack_sequences

    docs = spark.createDataFrame(
        [
            (1, "a b c"),            # 3 toks: start 0,  block 0
            (2, " ".join(["x"] * 6)),  # 6 toks: start 3, spans blocks 0-2
            (3, "y z"),              # 2 toks: start 9,  block 2 (offset 1)
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (
            r["n_tokens"],
            r["start_tok"],
            r["block_id"],
            r["offset_in_block"],
            r["n_blocks_spanned"],
        )
        for r in pack_sequences(docs, seq_len=4).collect()
    }
    assert out[1] == (3, 0, 0, 0, 1)
    assert out[2] == (6, 3, 0, 3, 3)  # tokens 3..8 -> blocks 0,1,2
    assert out[3] == (2, 9, 2, 1, 1)
