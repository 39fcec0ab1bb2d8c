"""Distributed byte-pair-encoding (BPE) vocabulary training.

A real pretraining handoff learns a SUBWORD vocabulary, not a
whitespace top-k (Sennrich et al. 2016, "Neural Machine Translation of
Rare Words with Subword Units"): start from characters, repeatedly
merge the globally most frequent adjacent symbol pair, bounded rounds.
This module is the fully-distributed Spark rendering with an exact
(unrolled) DuckDB twin:

* the training state is the WORD-FREQUENCY table, not the token
  stream: one corpus scan builds (word, cnt, syms) — vocabulary-sized,
  many orders of magnitude smaller than the corpus at web scale — and
  every merge round is a pair-count hash aggregate + argmax + a
  per-word fold over that table. 100 TB of text costs ONE scan; the
  R merge rounds never touch the corpus again.
* per round: pair counts (explode adjacent symbol pairs weighted by
  word cnt, map-side partials), the best pair by (count desc, p1 asc,
  p2 asc) — a deterministic TakeOrdered top-1, never a full sort — and
  merge application as a left-to-right non-overlapping fold
  (`F.aggregate`) over each word's symbol array. The best-pair row is
  joined on (1 row, broadcast-sized by construction); nothing is
  collected to the driver except the per-round empty-check on a
  1-row materialized DataFrame.
* the word table is eagerly ``localCheckpoint``-ed per round (the
  Lloyd-iteration lesson from similarity.ivf_train_centroids: the
  table is metadata-sized but its lineage is the whole training
  history).

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

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

BPE_MERGES = 8  # query-level default; production vocabularies run 10^4+
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


def _pair_counts(words: DataFrame) -> DataFrame:
    """(p1, p2, n): adjacent symbol-pair occurrence counts weighted by
    word frequency. All adjacent positions count (the classic
    estimator — "aaa" contributes (a,a) twice)."""
    idx = F.sequence(F.lit(1), F.size("syms") - 1)
    pair = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(F.col("syms"), i).alias("p1"),
            F.element_at(F.col("syms"), i + 1).alias("p2"),
        ),
    )
    return (
        words.filter(F.size("syms") >= 2)
        .select("cnt", F.explode(pair).alias("pr"))
        .groupBy("pr.p1", "pr.p2")
        .agg(F.sum("cnt").alias("n"))
    )


def _apply_merge(syms: Column, p1: Column, p2: Column) -> Column:
    """Left-to-right non-overlapping merge of (p1, p2) in a symbol
    array, as a fold: a run like "aaa" under pair (a,a) merges
    positions 1 and 3, exactly like the sequential reference
    algorithm. NULL p1/p2 (no pair this round) leaves the array
    unchanged — null comparisons are falsy, so every step appends."""
    rest = F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(0)))

    def step(acc: Column, s: Column) -> Column:
        last = F.element_at(acc, -1)
        merged = F.concat(
            F.slice(acc, F.lit(1), F.size(acc) - 1),
            F.array(F.concat(last, s)),
        )
        return F.when((last == p1) & (s == p2), merged).otherwise(
            F.concat(acc, F.array(s))
        )

    return F.aggregate(rest, F.slice(syms, 1, 1), step)


def bpe_train(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Train :data:`BPE_MERGES` rounds of BPE: returns (segments,
    merges) — the final word table (word, cnt, syms) and the learned
    merge sequence (merge_rank, p1, p2). Stops early when no pair
    remains."""
    spark = docs.sparkSession
    words = word_table(docs).localCheckpoint(eager=True)
    merge_rows: list[tuple[int, str, str]] = []
    for r in range(1, BPE_MERGES + 1):
        # Per-round argmax: TakeOrdered top-1 collected to the driver —
        # ONE row of training state (two symbol strings), the same
        # bytes the old localCheckpoint+count pair materialized, at one
        # Spark job per round instead of two; the merge pair is then a
        # pair of literals in the fold, removing the per-round
        # broadcast join from the word-table update as well.
        top = (
            _pair_counts(words)
            .orderBy(F.desc("n"), F.asc("p1"), F.asc("p2"))
            .limit(1)
            .select("p1", "p2")
            .collect()
        )
        if not top:
            break
        p1, p2 = top[0]["p1"], top[0]["p2"]
        merge_rows.append((r, p1, p2))
        words = words.select(
            "word",
            "cnt",
            _apply_merge(F.col("syms"), F.lit(p1), F.lit(p2)).alias("syms"),
        ).localCheckpoint(eager=True)
    merges = spark.createDataFrame(
        merge_rows, "merge_rank int, p1 string, p2 string"
    )
    return words, merges


def bpe_merges(docs: DataFrame) -> DataFrame:
    """The learned merge table (merge_rank, p1, p2) — the model
    artifact a production tokenizer ships."""
    return bpe_train(docs)[1]


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
    A call is meant for a shard whose distinct-word count is ~10^6 or
    less (tens of MB on every executor); a larger corpus is encoded
    shard by shard."""
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
