"""Distributed BPE training: hand-pinned merges, fold semantics,
encode fingerprints (operators/bpe.py)."""

from __future__ import annotations

import hashlib

from pero_ocr_api_spark.operators import bpe
from pero_ocr_api_spark.operators.bpe import (
    bpe_encode_docs,
    bpe_train,
    bpe_vocab,
)


def test_bpe_merges_hand_pinned(spark):
    # corpus words: "aaab" x2, "ab" x1
    # r1: pairs (a,a): 2 per "aaab" x2 = 4; (a,b): 2+1 = 3 -> merge (a,a)
    # r2: words [aa,a,b]x2, [a,b]; pairs (aa,a):2, (a,b):2+1=3 -> (a,b)
    # r3: words [aa,ab]x2, [ab]; pairs (aa,ab):2 -> (aa,ab)
    # r4: words [aaab]x2, [ab]: no pairs -> early stop
    docs = spark.createDataFrame(
        [(1, "aaab aaab ab")], "doc_id long, text string"
    )
    segments, merges = bpe_train(docs)
    got = [
        (r["merge_rank"], r["p1"], r["p2"])
        for r in merges.orderBy("merge_rank").collect()
    ]
    assert got == [(1, "a", "a"), (2, "a", "b"), (3, "aa", "ab")]
    segs = {r["word"]: r["syms"] for r in segments.collect()}
    assert segs == {"aaab": ["aaab"], "ab": ["ab"]}


def test_bpe_tie_break_deterministic(spark, monkeypatch):
    # "xy" and "ab" both occur twice -> counts tie; (a,b) < (x,y);
    # one round, so the tie's winner is the only merge
    docs = spark.createDataFrame(
        [(1, "xy ab xy ab")], "doc_id long, text string"
    )
    monkeypatch.setattr(bpe, "BPE_MERGES", 1)
    _, merges = bpe_train(docs)
    [(r1, p1, p2)] = [
        (r["merge_rank"], r["p1"], r["p2"]) for r in merges.collect()
    ]
    assert (r1, p1, p2) == (1, "a", "b")


def test_bpe_run_merge_is_left_to_right_nonoverlapping(spark, monkeypatch):
    # "aaaa": (a,a) count 3 -> merge; fold gives [aa, aa], not [aa, a, a]
    # (one round: a second would merge (aa, aa))
    docs = spark.createDataFrame([(1, "aaaa")], "doc_id long, text string")
    monkeypatch.setattr(bpe, "BPE_MERGES", 1)
    segments, merges = bpe_train(docs)
    [seg] = segments.collect()
    assert seg["syms"] == ["aa", "aa"]


def test_bpe_encode_hand_computed(spark):
    docs = spark.createDataFrame(
        [(1, "aaab aaab ab")], "doc_id long, text string"
    )
    segments, _ = bpe_train(docs)
    vocab = bpe_vocab(segments)
    # pieces: aaab (cnt 2), ab (cnt 1) -> ids: aaab=1, ab=2
    v = {r["piece"]: r["piece_id"] for r in vocab.collect()}
    assert v == {"aaab": 1, "ab": 2}
    out = {
        r["doc_id"]: (r["n_pieces"], r["n_unk"], r["ids_md5"])
        for r in bpe_encode_docs(docs, segments, vocab).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert out[1] == (3, 0, md5("1,1,2"))


def test_bpe_unseen_word_falls_back_to_chars(spark):
    train = spark.createDataFrame([(1, "aaab aaab ab")], "doc_id long, text string")
    segments, _ = bpe_train(train)
    vocab = bpe_vocab(segments)
    # "zq" was never trained: char segmentation, both chars UNK
    other = spark.createDataFrame([(7, "zq ab")], "doc_id long, text string")
    [row] = bpe_encode_docs(other, segments, vocab).collect()
    assert (row["n_pieces"], row["n_unk"]) == (3, 2)  # z, q, ab
