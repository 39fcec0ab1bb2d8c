"""Corpus bigram language-model quality scoring (CCNet-style filter).

Large-scale curation pipelines score each document by how probable its
text is under a language model trained on the corpus itself (CCNet
trains KenLM on Wikipedia; Gopher/Dolma keep the same shape) and drop
the tails. This module is the fully-distributed Spark form with an
exact DuckDB twin:

* model = corpus bigram + unigram counts (two hash aggregates with
  map-side partials; the corpus is scanned twice — once per aggregate
  — which at cluster scale beats caching a corpus-sized token
  intermediate);
* score(doc) = Σ over the doc's bigram occurrences of
  ln((c(w1 w2) + 1) / (c(w1) + V)) — add-one smoothing over vocabulary
  size V, the textbook estimator;
* each term is snapped onto the 2^-16 grid (similarity.quant16) BEFORE
  summation, so the per-doc sum is a sum of exactly-representable
  doubles — identical in any accumulation order (the house rule from
  functions/portable.py: never emit an order-sensitive float sum).
  Callers divide sum_lp by n_bigrams themselves for an average /
  perplexity. Honest caveat: unlike sqrt (IEEE-exact), ln is only
  faithfully rounded, so JVM Math.log and DuckDB's libm can disagree
  by 1 ulp on the same integer input; if such a term lands within
  1 ulp of a half-grid point the two engines snap to adjacent grid
  cells. Probability ≈ 2e-16/1.5e-5 ≈ 1e-11 per DISTINCT
  (c2, c1+V) pair (terms repeat per pair; at the sf0.01 oracle scale
  ~1e4 pairs → ~1e-7 total) — disclosed rather than claimed away.

Scale shape (100 TB): the model is corpus-sized, so it is NEVER
broadcast — BOTH model sides (bigram counts and unigram counts) are
hash aggregates with map-side partials, equi-joined back onto the
exploded occurrence stream. Head keys ("the", "of the") make both join
keys skewed, but they are single-row-per-key on the model side —
exactly the shape AQE's skew-join splitting handles. A per-gram count
WINDOW over the occurrence stream would compute the same number with
one less aggregate, but WindowExec partitions cannot be split by AQE,
so the head gram would serialize the stage at web scale (plan-tested:
no Window over the occurrence stream). Nothing is collected;
vocabulary size V is a 1-row aggregate cross-joined in.

Reference analog: the confidence filter at processing_client/
run_client.py:279-302 gates OCR lines on a model score; this is the
same gate at corpus scale with the corpus itself as the model.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pero_ocr_api_spark.operators import dedup
from pero_ocr_api_spark.operators.similarity import (
    duckdb_quant16_sql,
    quant16,
)

TOKEN_RE = "[a-z0-9]+"


def tokens_col(col: Column) -> Column:
    """Engine-portable tokenizer: lowercase alphanumeric runs."""
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_RE), F.lit(0))


def bigram_lm_scores(docs: DataFrame) -> DataFrame:
    """Per-document add-one-smoothed bigram log-likelihood under the
    corpus's own bigram model.

    Returns (doc_id, n_bigrams, novel_bigrams, sum_lp): occurrence
    count, bigrams whose corpus count is 1 (unique to this doc), and
    the exact-grid sum of per-bigram log probabilities.
    """
    toks = docs.select(
        F.col("doc_id"), tokens_col(F.col("text")).alias("t")
    ).filter(F.size("t") >= 2)
    uni = (
        toks.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c1"))
    )
    voc = uni.agg(F.count("*").alias("v"))
    # Flat bigram stream (dedup.exploded_word_grams: each gram built
    # by codegen'd element_at/concat, not an interpreted lambda)
    bg = dedup.exploded_word_grams(toks, F.col("t"), 2)
    # bigram model side: aggregate-then-equi-join (NOT a count window
    # over the occurrence stream — WindowExec partitions are not
    # AQE-splittable, so the head gram would pin one task at scale).
    # The natural-language gram distribution means map-side partials
    # collapse the occurrence stream to near-distinct-gram size before
    # this exchange.
    gramc = bg.groupBy("gram").agg(F.count("*").alias("c2"))
    # Per-gram log-probability computed ONCE per DISTINCT gram on the
    # model side (gramc ⋈ uni ⋈ voc runs at gram-distinct granularity);
    # the occurrence stream then takes a single equi-join instead of
    # two, and the final per-doc aggregate gets map-side partials
    # (a doc's occurrences are co-located out of the explode).
    model = (
        gramc.withColumn(
            "w1", F.split_part(F.col("gram"), F.lit(" "), F.lit(1))
        )
        .join(uni, F.col("w1") == uni.tok)
        .crossJoin(voc)
        .select(
            F.col("gram").alias("g2"),
            "c2",
            quant16(
                F.log(F.col("c2") + F.lit(1.0))
                - F.log(F.col("c1") + F.col("v") + F.lit(0.0))
            ).alias("lp"),
        )
    )
    scored = bg.join(model, bg.gram == model.g2)
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum((F.col("c2") == 1).cast("long")).alias("novel_bigrams"),
        F.sum("lp").alias("sum_lp"),
    )


VOCAB_K = 512  # query-level default; a production vocab is 2^15-2^17
UNK_ID = 0


def vocab_topk(docs: DataFrame, k: int = VOCAB_K) -> DataFrame:
    """Deterministic corpus vocabulary: the top-k whitespace tokens by
    occurrence count (count-desc, token-asc tie-break), numbered
    1..k; id 0 is reserved for UNK.

    Scale shape: one explode + hash aggregate with map-side partials,
    then a TakeOrdered top-k (per-partition heaps, no global sort of
    the distinct-token set); the final row_number window runs over the
    k retained rows only — metadata-sized, like the P-row offset table
    in :func:`global_prefix_sum`. Same tokenizer as the dedup family
    (dedup.tokens_col) so vocab and shingles agree on token
    boundaries."""
    toks = dedup.spread_to_parallelism(docs).select(
        F.explode(dedup.tokens_col(F.col("text"))).alias("tok")
    )
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("n").desc(), F.col("tok").asc())
    return top.withColumn(
        "token_id", F.row_number().over(w).cast("long")
    ).select("tok", "token_id", "n")


def _encoded_tokens(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """(doc_id, pos, tid): every whitespace token (dedup.tokens_col) of
    every doc with its in-doc position, encoded against the (tok,
    token_id) vocabulary; unknown tokens are UNK."""
    toks = docs.select(
        F.col("doc_id"),
        F.posexplode(dedup.tokens_col(F.col("text"))).alias("pos", "tok"),
    )
    return toks.join(vocab.select("tok", "token_id"), "tok", "left").select(
        F.col("doc_id"),
        "pos",
        F.coalesce(F.col("token_id"), F.lit(UNK_ID)).alias("tid"),
    )


def encode_docs(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """Encode every document against a (tok, token_id) vocabulary —
    the tokenization handoff a training pipeline runs last. Unknown
    tokens map to UNK (id 0). Returns (doc_id, n_tokens, n_unk,
    ids_md5) where ids_md5 fingerprints the ORDERED id sequence, so
    two engines (or two cluster sizes) agree iff they produced the
    identical token stream.

    Scale shape: posexplode + an equi-join against the vocab (k rows —
    broadcast-sized by construction) + one per-doc aggregate whose
    order-sensitive part is a typed sort_array over that doc's own
    (pos, tid) structs, read back by field projection (no per-element
    lambda), never a cross-row float or global sort."""
    enc = _encoded_tokens(docs, vocab)
    ids_in_order = F.sort_array(F.collect_list(F.struct("pos", "tid")))[
        "tid"
    ].cast("array<string>")
    return enc.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum((F.col("tid") == UNK_ID).cast("long")).alias("n_unk"),
        F.md5(F.concat_ws(",", ids_in_order).cast("binary")).alias("ids_md5"),
    )


SEQ_LEN = 256  # query-level block capacity; production 2048-8192


def global_prefix_sum(
    df: DataFrame,
    sort_cols: list[str],
    value_col: str,
    out: str = "prefix_sum",
) -> DataFrame:
    """Exact global EXCLUSIVE prefix sum of a non-negative value
    column in ``sort_cols`` order, computed distributively.

    A plain ``Window.orderBy(...)`` running sum funnels every row
    through one reducer (``Exchange SinglePartition``) — the task that
    kills a 100x-scale job. Instead:

    1. ``repartitionByRange`` on the sort key — partition *i*'s rows
       all order before partition *i+1*'s;
    2. a running sum within each range partition (window keyed by
       ``spark_partition_id()`` — fully parallel);
    3. prefix-sum of the per-partition totals to offset the local
       sums — a P-row aggregate (P = shuffle partitions), so *its*
       single-partition window moves metadata, not data.

    ``value_col`` must be non-negative: the per-partition total is
    read off the same local-cumsum subtree as ``max`` so the exchange
    is reused, which needs a monotone running sum."""
    arranged = df.repartitionByRange(*sort_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    local_w = (
        Window.partitionBy("_pid")
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = arranged.withColumn("_lcum", F.sum(value_col).over(local_w))
    totals = local.groupBy("_pid").agg(F.max("_lcum").alias("_ptot"))
    off_w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        "_pid",
        F.coalesce(F.sum("_ptot").over(off_w), F.lit(0)).alias("_off"),
    )
    return (
        local.join(F.broadcast(offs), "_pid")
        .withColumn(out, F.col("_off") + F.col("_lcum") - F.col(value_col))
        .drop("_pid", "_lcum", "_off")
    )


def pack_sequences(docs: DataFrame, seq_len: int = SEQ_LEN) -> DataFrame:
    """Sequence-packing index: concatenate the corpus's token stream
    in deterministic ``doc_id`` order and cut it every ``seq_len``
    tokens — the last step before a pretraining data loader. Emits per
    document its global token offset and block placement:
    (doc_id, n_tokens, start_tok, block_id, offset_in_block,
    n_blocks_spanned) — the index a packed-shard writer consumes; a
    doc whose tokens straddle a cut spans >1 block.

    Scale shape: one scan for token counts, then the distributed
    exclusive prefix sum (:func:`global_prefix_sum` — range
    partition + local window + P-row offset table, NO
    single-partition exchange over data). Everything emitted is
    integer arithmetic on exact counts."""
    counted = docs.select(
        F.col("doc_id"),
        F.size(dedup.tokens_col(F.col("text"))).cast("long").alias(
            "n_tokens"
        ),
    )
    placed = global_prefix_sum(counted, ["doc_id"], "n_tokens", out="start_tok")
    block = F.expr(f"start_tok div {seq_len}")
    end_block = F.expr(f"(start_tok + n_tokens - 1) div {seq_len}")
    return placed.select(
        "doc_id",
        "n_tokens",
        "start_tok",
        block.alias("block_id"),
        (F.col("start_tok") % seq_len).alias("offset_in_block"),
        (end_block - block + 1).alias("n_blocks_spanned"),
    )


def assemble_blocks(
    docs: DataFrame, vocab: DataFrame, seq_len: int = SEQ_LEN
) -> DataFrame:
    """Assemble the actual packed training blocks: every token gets a
    GLOBAL position (its doc's start_tok from :func:`pack_sequences`
    plus its in-doc offset), lands in block ``gpos div seq_len``, and
    each block aggregates its ordered token-id array. Returns
    (block_id, token_ids, n_tokens, n_docs, n_unk) — the shard rows
    jobs/pack_job.py writes; :func:`pack_blocks` is the
    fingerprintable view of the same subtree.

    Scale shape: the one unavoidable cost of packing is re-shuffling
    the token stream by block id — a single hash shuffle whose
    per-key state is bounded by seq_len tokens; the vocab join is
    broadcast-sized, the placement join is an equi-join on the doc
    key. Every block except the last is exactly seq_len tokens — the
    invariant the tests pin."""
    placed = pack_sequences(docs, seq_len).select("doc_id", "start_tok")
    enc = _encoded_tokens(docs, vocab)
    stream = enc.join(placed, "doc_id").select(
        (F.col("start_tok") + F.col("pos")).alias("gpos"),
        F.col("doc_id"),
        "tid",
    )
    ids_in_order = F.sort_array(F.collect_list(F.struct("gpos", "tid")))["tid"]
    return (
        stream.withColumn("block_id", F.expr(f"gpos div {seq_len}"))
        .groupBy("block_id")
        .agg(
            ids_in_order.alias("token_ids"),
            F.count("*").alias("n_tokens"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum((F.col("tid") == UNK_ID).cast("long")).alias("n_unk"),
        )
    )


def pack_blocks(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """Fingerprintable view of :func:`assemble_blocks` at
    :data:`SEQ_LEN`: (block_id, n_tokens, n_docs, ids_md5) — the oracle
    compares block md5s instead of shipping raw id arrays across
    engines."""
    blocks = assemble_blocks(docs, vocab)
    ids_str = F.col("token_ids").cast("array<string>")
    return blocks.select(
        "block_id",
        "n_tokens",
        "n_docs",
        F.md5(F.concat_ws(",", ids_str).cast("binary")).alias("ids_md5"),
    )


def duckdb_pack_blocks_sql() -> str:
    """DuckDB twin of vocab build + :func:`pack_blocks`."""
    toks = dedup.duckdb_tokens_sql("text")
    return f"""
WITH {duckdb_vocab_cte_sql()},
counted AS (
  SELECT doc_id, CAST(len({toks}) AS BIGINT) AS n_tokens FROM documents
), placed AS (
  SELECT doc_id,
         CAST(coalesce(sum(n_tokens) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_tok
  FROM counted
), positions AS (
  SELECT doc_id,
         unnest({toks}) AS tok,
         unnest(range(0, len({toks}))) AS pos
  FROM documents
), stream AS (
  SELECT p.start_tok + t.pos AS gpos, t.doc_id,
         coalesce(v.token_id, {UNK_ID}) AS tid
  FROM positions t
  LEFT JOIN vocab v USING (tok)
  JOIN placed p USING (doc_id)
)
SELECT gpos // {SEQ_LEN} AS block_id,
       count(*) AS n_tokens,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY gpos)) AS ids_md5
FROM stream GROUP BY block_id
"""


def duckdb_pack_sequences_sql() -> str:
    """DuckDB twin of :func:`pack_sequences` (plain window cumsum —
    single-threaded is fine for the oracle)."""
    toks = dedup.duckdb_tokens_sql("text")
    return f"""
WITH counted AS (
  SELECT doc_id, CAST(len({toks}) AS BIGINT) AS n_tokens FROM documents
), placed AS (
  SELECT doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_tok
  FROM counted
)
SELECT doc_id, n_tokens, start_tok,
       start_tok // {SEQ_LEN} AS block_id,
       start_tok % {SEQ_LEN} AS offset_in_block,
       (start_tok + n_tokens - 1) // {SEQ_LEN} - start_tok // {SEQ_LEN} + 1
         AS n_blocks_spanned
FROM placed
"""


def duckdb_vocab_cte_sql(k: int = VOCAB_K) -> str:
    """CTE chain ending in ``vocab (tok, token_id, n)`` — the DuckDB
    twin of :func:`vocab_topk`."""
    toks = dedup.duckdb_tokens_sql("text")
    return f"""vocab_top AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest({toks}) AS tok FROM documents)
  GROUP BY tok ORDER BY n DESC, tok ASC LIMIT {k}
), vocab AS (
  SELECT tok, CAST(row_number() OVER (ORDER BY n DESC, tok ASC) AS BIGINT)
           AS token_id, n
  FROM vocab_top
)"""


def duckdb_encode_docs_sql() -> str:
    """Full DuckDB twin of vocab build + :func:`encode_docs`."""
    toks = dedup.duckdb_tokens_sql("text")
    return f"""
WITH {duckdb_vocab_cte_sql()},
positions AS (
  SELECT doc_id,
         unnest({toks}) AS tok,
         unnest(range(1, len({toks}) + 1)) AS pos
  FROM documents
),
enc AS (
  SELECT p.doc_id, p.pos, coalesce(v.token_id, {UNK_ID}) AS tid
  FROM positions p LEFT JOIN vocab v USING (tok)
)
SELECT doc_id,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN tid = {UNK_ID} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unk,
       md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos)) AS ids_md5
FROM enc GROUP BY doc_id
"""


def duckdb_bigram_lm_sql() -> str:
    """DuckDB twin of :func:`bigram_lm_scores` over the ``documents``
    (doc_id, text) table. Bit-identical: same tokenizer regex, same
    integer counts, same quant16 grid per term, exact sum."""
    lp = duckdb_quant16_sql("(ln(c2 + 1.0) - ln(c1 + v + 0.0))")
    return f"""
WITH lm_toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS t
  FROM documents
  WHERE len(regexp_extract_all(lower(text), '{TOKEN_RE}')) >= 2
), lm_uni AS (
  SELECT tok, count(*) AS c1
  FROM (SELECT unnest(t) AS tok FROM lm_toks) GROUP BY tok
), lm_voc AS (
  SELECT count(*) AS v FROM lm_uni
), lm_bg AS (
  SELECT doc_id, unnest({dedup.duckdb_word_grams_sql('t', 2)}) AS gram
  FROM lm_toks
), lm_scored AS (
  SELECT doc_id,
         count(*) OVER (PARTITION BY gram) AS c2,
         split_part(gram, ' ', 1) AS w1
  FROM lm_bg
)
SELECT doc_id,
       count(*) AS n_bigrams,
       CAST(sum(CASE WHEN c2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS novel_bigrams,
       sum({lp}) AS sum_lp
FROM lm_scored JOIN lm_uni ON w1 = tok CROSS JOIN lm_voc
GROUP BY doc_id
"""
