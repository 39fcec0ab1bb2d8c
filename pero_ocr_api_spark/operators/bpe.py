"""Byte-pair-encoding (BPE) vocabulary training and encoding.

A real pretraining handoff learns a SUBWORD vocabulary, not a
whitespace top-k (Sennrich et al. 2016, "Neural Machine Translation of
Rare Words with Subword Units"): start from characters, repeatedly
merge the globally most frequent adjacent symbol pair, bounded rounds.
This module trains on the word table and encodes the corpus in Spark,
with an exact (unrolled) DuckDB twin:

* the training state is the WORD-FREQUENCY table, not the token
  stream: one distributed corpus scan builds (word, cnt, syms) —
  vocabulary-sized, many orders of magnitude smaller than the corpus
  at web scale. 100 TB of text costs ONE scan; the merge rounds never
  touch the corpus again.
* the table is collected once (at most :data:`BPE_MAX_WORDS` rows,
  the bound the encoder's broadcast word map already has) and the
  merge rounds run in plain Python over it: pair counts weighted by
  word cnt, the best pair by (count desc, p1 asc, p2 asc), and a
  left-to-right non-overlapping merge of each word's symbols.

Encoding segments each document's tokens via the trained word table
(an equi-join; skewed head words are single-row-per-key on the model
side — the AQE skew-join shape), then maps pieces to ids through the
piece vocabulary (≤ |alphabet| + n_merges rows by construction — every
piece is either a single character or one round's merge result).
Unseen words at encode time fall back to character segmentation
(documented contract; the registered queries train and encode on the
same corpus, so the fallback is exercised only by library callers).

Reference analog: the engine/model registry versioning
(app/main/routes.py:330-370) — the merge table is the model artifact
of this pipeline, trained once and shipped to every consumer.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pero_ocr_api_spark.session import local_frame

BPE_MERGES = 8  # query-level default; production vocabularies run 10^4+
# Distinct words bpe_train collects to the driver and bpe_encode_docs
# broadcasts as its (word -> piece ids) map.
BPE_MAX_WORDS = 10**6
UNK_ID = 0


def char_syms_col(col: Column) -> Column:
    """Initial symbol array: one single-character symbol per char.
    regexp form ('.') so Spark and DuckDB split identically (tokens
    are [a-z0-9]+, so no multibyte edge cases)."""
    return F.regexp_extract_all(col, F.lit("."), F.lit(0))


def word_table(docs: DataFrame) -> DataFrame:
    """(word, cnt, syms): the word-frequency training state — one
    corpus scan, hash aggregate with map-side partials. Words come
    from the LM's tokenizer (lm.tokens_col, ``[a-z0-9]+`` runs), not
    the dedup family's whitespace split (dedup.tokens_col) that feeds
    vocab_topk, encode_docs and the packers, so BPE words and those
    tokens can split a text differently."""
    from pero_ocr_api_spark.operators import dedup
    from pero_ocr_api_spark.operators.lm import tokens_col

    toks = dedup.spread_to_parallelism(docs).select(
        F.explode(tokens_col(F.col("text"))).alias("word")
    )
    return (
        toks.groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .withColumn("syms", char_syms_col(F.col("word")))
    )


def _merge(syms: list[str], p1: str, p2: str) -> list[str]:
    """Left-to-right non-overlapping merge of (p1, p2): each symbol is
    compared with the last ACCUMULATED one, so "aaa" under (a, a)
    gives [aa, a]."""
    out = syms[:1]
    for s in syms[1:]:
        if out[-1] == p1 and s == p2:
            out[-1] = p1 + p2
        else:
            out.append(s)
    return out


def bpe_train(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Train :data:`BPE_MERGES` rounds of BPE: returns (segments,
    merges) — the final word table (word, cnt, syms) and the learned
    merge sequence (merge_rank, p1, p2). Stops early when no pair
    remains. All adjacent positions count ("aaa" contributes (a, a)
    twice). Raises ``ValueError`` past :data:`BPE_MAX_WORDS` distinct
    words."""
    spark = docs.sparkSession
    rows = word_table(docs).limit(BPE_MAX_WORDS + 1).collect()
    if len(rows) > BPE_MAX_WORDS:
        raise ValueError(
            f"bpe_train: more than BPE_MAX_WORDS={BPE_MAX_WORDS} distinct "
            "words; train on a sample of the corpus"
        )
    words = [(r["word"], r["cnt"], r["syms"]) for r in rows]
    merge_rows: list[tuple[int, str, str]] = []
    for r in range(1, BPE_MERGES + 1):
        pairs: Counter = Counter()
        for _, cnt, syms in words:
            for pair in zip(syms, syms[1:]):
                pairs[pair] += cnt
        if not pairs:
            break
        (p1, p2), _ = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merge_rows.append((r, p1, p2))
        words = [(w, cnt, _merge(syms, p1, p2)) for w, cnt, syms in words]
    return (
        local_frame(spark, words, "word string, cnt long, syms array<string>"),
        local_frame(spark, merge_rows, "merge_rank int, p1 string, p2 string"),
    )


def bpe_vocab(segments: DataFrame) -> DataFrame:
    """(piece, piece_id, n): the piece vocabulary of a trained word
    table — ≤ |alphabet| + n_merges rows by construction (every piece
    is a character or one round's merge result), so the numbering
    window runs over metadata. Deterministic order: weighted count
    desc, piece asc; id 0 is reserved for UNK."""
    counts = (
        segments.select("cnt", F.explode("syms").alias("piece"))
        .groupBy("piece")
        .agg(F.sum("cnt").alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("piece"))
    return counts.withColumn(
        "piece_id", F.row_number().over(w).cast("long")
    ).select("piece", "piece_id", "n")


def bpe_encode_docs(
    docs: DataFrame, segments: DataFrame, vocab: DataFrame
) -> DataFrame:
    """Encode documents against a trained BPE segmentation:
    (doc_id, n_pieces, n_unk, ids_md5) where ids_md5 fingerprints the
    ORDERED piece-id sequence (the lm.encode_docs contract, subword
    edition). Tokens are segmented via the word table (equi-join);
    words unseen in training fall back to character segmentation,
    and pieces missing from the vocabulary map to UNK (id 0).

    Vocabulary bound: the (word → piece ids) map is broadcast, and it
    holds one row (~64 bytes) per DISTINCT word of ``docs``, unseen
    words included — not the trained vocabulary. Distinct words grow
    sublinearly with the corpus but without a cap (the seeded sf0.1
    corpus has 31 for 270,704 occurrences; web text reaches millions).
    A call is meant for a shard whose distinct-word count is
    :data:`BPE_MAX_WORDS` or less (tens of MB on every executor); a
    larger corpus is encoded shard by shard."""
    from pero_ocr_api_spark.operators.lm import tokens_col

    toks = docs.select(
        F.col("doc_id"),
        F.posexplode(tokens_col(F.col("text"))).alias("pos", "word"),
    )
    # The (word → piece-id string) mapping is computed once per
    # DISTINCT word — the vocabulary-sized model surface — instead of
    # exploding pieces per token OCCURRENCE: the occurrence stream then
    # pays ONE equi-join and one per-doc aggregate, and the piece
    # explode + vocab join run over the distinct-word table only.
    # Unseen words keep the documented char-segmentation fallback (the
    # distinct-word table is built from the encode-side corpus, so the
    # fallback rides the same mapping join).
    wdist = toks.select("word").distinct()
    wsyms = wdist.join(segments.select("word", "syms"), "word", "left").select(
        "word",
        F.coalesce(F.col("syms"), char_syms_col(F.col("word"))).alias("syms"),
    )
    wpieces = wsyms.select(
        "word", F.posexplode("syms").alias("spos", "piece")
    )
    wenc = wpieces.join(
        vocab.select("piece", "piece_id"), "piece", "left"
    ).select(
        "word",
        "spos",
        F.coalesce(F.col("piece_id"), F.lit(UNK_ID)).alias("tid"),
    )
    # per-word artifacts: ordered comma-joined id string (the exact
    # substring this word contributes to ids_md5), piece count, UNK
    # count — concatenating per-word strings in pos order reproduces
    # the (pos, spos)-ordered id stream byte-for-byte
    ids_of_word = F.sort_array(F.collect_list(F.struct("spos", "tid")))[
        "tid"
    ].cast("array<string>")
    wmap = wenc.groupBy("word").agg(
        F.concat_ws(",", ids_of_word).alias("ids_str"),
        F.count("*").alias("n_pieces_w"),
        F.sum((F.col("tid") == UNK_ID).cast("long")).alias("n_unk_w"),
    )
    # broadcast the vocabulary-sized mapping, NOT the occurrence
    # stream: the scan-side size estimate (a few MB of parquet) makes
    # Catalyst pick the 10^2x larger exploded stream as build side
    # otherwise (its size is the docstring's vocabulary bound)
    enc = toks.join(F.broadcast(wmap), "word").select(
        F.col("doc_id"), "pos", "ids_str", "n_pieces_w", "n_unk_w"
    )
    ids_in_order = F.sort_array(F.collect_list(F.struct("pos", "ids_str")))[
        "ids_str"
    ]
    return enc.groupBy("doc_id").agg(
        F.sum("n_pieces_w").alias("n_pieces"),
        F.sum("n_unk_w").alias("n_unk"),
        F.md5(F.concat_ws(",", ids_in_order).cast("binary")).alias(
            "ids_md5"
        ),
    )


# ------------------------------------------------------------- DuckDB twins ---


def duckdb_bpe_cte_sql() -> str:
    """CTE chain ending in ``bpe_words (word, cnt, syms)`` and
    ``bpe_merges (merge_rank, p1, p2)`` — the DuckDB twin of
    :func:`bpe_train`, rounds unrolled like the Lloyd-iteration twin
    (similarity.duckdb_ivf_cents_cte_sql). Exact: integer pair counts,
    binary-collation tie-breaks, the identical left-to-right fold."""
    from pero_ocr_api_spark.operators.lm import TOKEN_RE

    parts = [
        f"""w_tok AS (
  SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS word
  FROM documents
)""",
        """words_0 AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt,
         regexp_extract_all(word, '.') AS syms
  FROM w_tok GROUP BY word
)""",
    ]
    for r in range(1, BPE_MERGES + 1):
        parts.append(
            f"""pairs_{r} AS (
  SELECT p1, p2, sum(cnt) AS n FROM (
    SELECT cnt, unnest(syms[1:len(syms)-1]) AS p1,
           unnest(syms[2:len(syms)]) AS p2
    FROM words_{r - 1} WHERE len(syms) >= 2
  ) GROUP BY 1, 2
)""",
        )
        parts.append(
            f"best_{r} AS (SELECT p1, p2 FROM pairs_{r} "
            f"ORDER BY n DESC, p1 ASC, p2 ASC LIMIT 1)",
        )
        parts.append(
            f"""words_{r} AS (
  SELECT word, cnt,
    CASE WHEN len(syms) < 2 THEN syms ELSE
      list_reduce(list_transform(syms, s -> [s]),
        (acc, x) -> CASE WHEN acc[len(acc)] = b.p1 AND x[1] = b.p2
          THEN acc[1:len(acc)-1] || [acc[len(acc)] || x[1]]
          ELSE acc || x END)
    END AS syms
  FROM words_{r - 1} LEFT JOIN best_{r} b ON TRUE
)""",
        )
    merge_union = "\n  UNION ALL ".join(
        f"SELECT {r} AS merge_rank, p1, p2 FROM best_{r}"
        for r in range(1, BPE_MERGES + 1)
    )
    parts.append(
        f"bpe_words AS (SELECT * FROM words_{BPE_MERGES})",
    )
    parts.append(f"bpe_merges AS (\n  {merge_union}\n)")
    return ",\n".join(parts)


def duckdb_bpe_merges_sql() -> str:
    return f"""
WITH {duckdb_bpe_cte_sql()}
SELECT merge_rank, p1, p2 FROM bpe_merges
"""


def duckdb_bpe_encode_sql() -> str:
    """DuckDB twin of train + :func:`bpe_vocab` + :func:`bpe_encode_docs`
    on the same corpus (so the segments join always hits)."""
    from pero_ocr_api_spark.operators.lm import TOKEN_RE

    toks = f"regexp_extract_all(lower(text), '{TOKEN_RE}')"
    return f"""
WITH {duckdb_bpe_cte_sql()},
bpe_vocab AS (
  SELECT piece,
         CAST(row_number() OVER (ORDER BY n DESC, piece ASC) AS BIGINT)
           AS piece_id
  FROM (
    SELECT piece, sum(cnt) AS n FROM (
      SELECT cnt, unnest(syms) AS piece FROM bpe_words
    ) GROUP BY piece
  )
),
bpe_positions AS (
  SELECT doc_id,
         unnest({toks}) AS word,
         unnest(range(1, len({toks}) + 1)) AS pos
  FROM documents
),
bpe_seg AS (
  SELECT p.doc_id, p.pos, w.syms
  FROM bpe_positions p JOIN bpe_words w USING (word)
),
bpe_pieces AS (
  SELECT doc_id, pos, unnest(syms) AS piece,
         unnest(range(1, len(syms) + 1)) AS spos
  FROM bpe_seg
),
bpe_enc AS (
  SELECT e.doc_id, e.pos, e.spos,
         coalesce(v.piece_id, {UNK_ID}) AS tid
  FROM bpe_pieces e LEFT JOIN bpe_vocab v USING (piece)
)
SELECT doc_id,
       count(*) AS n_pieces,
       CAST(sum(CASE WHEN tid = {UNK_ID} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unk,
       md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos, spos))
         AS ids_md5
FROM bpe_enc GROUP BY doc_id
"""
