"""Deduplication operators for training-data pipelines.

All four families over the ``documents`` table, Spark-first:

* **exact** — md5 fingerprint of normalized text, hash groupBy;
* **MinHash + LSH** — word-3-gram shingles → k-permutation MinHash →
  banded LSH bucket join for candidate pairs;
* **SimHash** — 16-bit token-hash sign aggregate;
* **n-gram Jaccard** — exact set similarity used to verify LSH
  candidates.

Engine-portability: every hash primitive is md5-based (never
``F.hash``/DuckDB ``hash`` — different algorithms), so each operator
has a DuckDB SQL twin for the driver's oracle. MinHash "permutations"
are md5(salt || shingle) minima compared lexicographically as hex
strings — portable across any engine with md5 + string min.

Scale notes: signatures are fixed-width (k ints) per doc —
shuffle-light; the LSH self-join shuffles on (band_idx, band_hash),
which is uniformly distributed by construction *except* for
boilerplate-identical mega-groups on real web data — those buckets
are capped: above :data:`MAX_BUCKET` members the clique collapses to
a star around the bucket's min id (linear fan-out, connectivity
preserved for keep-min-id dedup). Exact dedup is one hash aggregate.
Jaccard verification is only computed on LSH candidates, never
all-pairs. Under-parallelized inputs (single-file scans) are spread
to cluster parallelism before hashing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from pero_ocr_api_spark.functions.text_stats import fingerprint_col
from pero_ocr_api_spark.session import cache

MINHASH_K = 16
LSH_BANDS = 4  # 4 bands x 4 rows
SHINGLE_N = 3
SIMHASH_BITS = 16


# ------------------------------------------------------------- shingles ---


def tokens_col(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


def duckdb_tokens_sql(expr: str) -> str:
    return f"string_split_regex(trim(lower({expr})), '\\s+')"


# Word n-grams have exactly three builders, one per form; each takes a
# token array, so every caller keeps its own tokenizer. A gram is a
# window of n tokens joined with ' '. A text with fewer than n tokens
# gives the caller's ``short`` value: the whole text for the shingle
# family (dedup recall), nothing everywhere else (contamination,
# top-n-grams, repetition and the LM must never match a whole text).


def word_grams_col(toks: Column, n: int, short: Column | None = None) -> Column:
    """The array form: the word n-grams of ``toks`` in document order,
    duplicates kept; ``short`` (default: an empty array) when there
    are fewer than n tokens. Each gram is built inside a ``transform``
    lambda, on the interpreted expression path, so corpus scans use
    :func:`exploded_word_grams` instead."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", *[toks[i + j] for j in range(n)]),
    )
    if short is None:
        short = F.array().cast("array<string>")
    return F.when(F.size(toks) >= n, grams).otherwise(short)


def exploded_word_grams(
    df: DataFrame,
    toks: Column,
    n: int,
    keep: tuple[str, ...] = ("doc_id",),
    short: Column | None = None,
) -> DataFrame:
    """The explode form: (*keep, gram) rows, one per word-n-gram
    OCCURRENCE of the token array ``toks`` (a Column over ``df``), in
    the same grams as :func:`word_grams_col`. A text with fewer than n
    tokens gives one ``short`` row (a string Column over ``df``), or
    none when ``short`` is None. Callers that need per-doc set
    semantics aggregate or distinct downstream.

    Why this exists: the array form builds every gram inside a
    ``transform`` lambda, and higher-order functions are evaluated on
    the interpreted expression path, measured ~20x slower than this
    position-explode + flat projection, where the gram concat (and a
    caller's md5 on top) run inside whole-stage codegen."""
    carry = [toks.alias("_t")] + ([] if short is None else [short.alias("_short")])
    base = df.select(*keep, *carry)
    pos = F.when(
        F.size("_t") >= n, F.sequence(F.lit(0), F.size("_t") - n)
    ).otherwise(
        F.array().cast("array<int>") if short is None else F.array(F.lit(-1))
    )
    # concat with ' ' literals is the same string as concat_ws here:
    # a token is never null
    parts = [F.element_at(F.col("_t"), F.col("_i") + 1)]
    for j in range(2, n + 1):
        parts += [F.lit(" "), F.element_at(F.col("_t"), F.col("_i") + j)]
    gram = F.concat(*parts)
    if short is not None:
        # position -1 marks the short-text row
        gram = F.when(F.col("_i") >= 0, gram).otherwise(F.col("_short"))
    ex = base.select("*", F.explode(pos).alias("_i"))
    return ex.select(*keep, gram.alias("gram"))


def duckdb_word_grams_sql(toks: str, n: int, short: str = "[]") -> str:
    """The DuckDB form of :func:`word_grams_col` over a token-list
    expression ``toks``."""
    grams = (
        f"list_transform(range(1, len({toks}) - {n - 2}), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' '))"
    )
    return f"(CASE WHEN len({toks}) >= {n} THEN {grams} ELSE {short} END)"


def _shingle_seq_col(text: Column) -> Column:
    """Word-3-gram sequence of ``text``; the whole text if < 3 tokens."""
    return word_grams_col(
        tokens_col(text), SHINGLE_N, F.array(F.trim(F.lower(text)))
    )


def _duckdb_shingle_seq_sql(expr: str) -> str:
    return duckdb_word_grams_sql(
        duckdb_tokens_sql(expr), SHINGLE_N, f"[trim(lower({expr}))]"
    )


def shingles_col(text: Column) -> Column:
    """Distinct word-3-gram shingles; whole text if < 3 tokens."""
    return F.array_distinct(_shingle_seq_col(text))


def duckdb_shingles_sql(expr: str) -> str:
    return f"list_distinct({_duckdb_shingle_seq_sql(expr)})"


# Gopher-style intra-doc repetition thresholds as integer
# cross-multiplications: frac > a/b <=> b*dups > a*total
REP_TOKEN_NUM, REP_TOKEN_DEN = 1, 2  # duplicate-token fraction > 1/2
REP_GRAM_NUM, REP_GRAM_DEN = 1, 20  # duplicate-3-gram fraction > 1/20


def repetition_flags_cols(text: Column) -> tuple[Column, Column]:
    """The repetition gate as its two flags: (token-repetitive,
    3-gram-repetitive). A doc passes when neither is set; every
    comparison is an integer cross-multiplication."""
    toks = tokens_col(text)
    n_tok = F.size(toks)
    nd_tok = F.size(F.array_distinct(toks))
    grams = word_grams_col(toks, 3)
    n_g = F.size(grams)
    nd_g = F.size(F.array_distinct(grams))
    return (
        F.lit(REP_TOKEN_DEN) * (n_tok - nd_tok) > F.lit(REP_TOKEN_NUM) * n_tok,
        (F.lit(REP_GRAM_DEN) * (n_g - nd_g) > F.lit(REP_GRAM_NUM) * n_g)
        & (n_g > 0),
    )


def duckdb_repetition_sizes_sql(expr: str) -> str:
    """DuckDB twin of the four sizes behind
    :func:`repetition_flags_cols`, as a select list (n_tok, nd_tok,
    n_g, nd_g)."""
    toks = duckdb_tokens_sql(expr)
    grams = duckdb_word_grams_sql(toks, 3)
    return f"""len({toks}) AS n_tok,
         len(list_distinct({toks})) AS nd_tok,
         len({grams}) AS n_g,
         len(list_distinct({grams})) AS nd_g"""


def word_ngram_ints_col(text: Column, n: int) -> Column:
    """Distinct word-n-gram md5 ints; EMPTY when the text has fewer
    than n tokens (contamination windows must never degrade to
    whole-text matches — unlike the 3-gram shingles above, which fall
    back to the full text for dedup recall)."""
    grams = word_grams_col(tokens_col(text), n)
    return F.array_distinct(F.transform(grams, lambda g: md5_int_col(g, 7)))


def duckdb_word_ngram_ints_sql(expr: str, n: int) -> str:
    grams = duckdb_word_grams_sql(duckdb_tokens_sql(expr), n)
    return f"list_distinct(list_transform({grams}, g -> {duckdb_md5_int_sql('g', 7)}))"


# ---------------------------------------------------------------- exact ---


def fingerprint_exact(df: DataFrame) -> DataFrame:
    """Exact dedup key: md5 of case/whitespace-normalized text."""
    return df.withColumn("fingerprint", fingerprint_col(F.col("text")))


def exact_keep(docs: DataFrame) -> DataFrame:
    """(doc_id, lang) of the lowest doc_id per text fingerprint — the
    exact-dedup keep list."""
    fp = docs.select("doc_id", "lang", fingerprint_col(F.col("text")).alias("fp"))
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        fp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang")
    )


# ------------------------------------------------------- portable hashing ---

MINHASH_PRIME = 2_147_483_647  # 2^31 - 1
_HEX = "0123456789abcdef"


def _minhash_coeffs(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the k universal-hash permutations
    h_i(x) = (a_i*x + b_i) mod p — derived from md5 so both engines
    embed identical literals. a_i odd, < 2^30 (so a*x fits int64)."""
    import hashlib as _hl

    out = []
    for i in range(k):
        d = _hl.md5(f"minhash{i}".encode()).hexdigest()
        a = (int(d[:8], 16) | 1) % (2**30)
        b = int(d[8:16], 16) % MINHASH_PRIME
        out.append((a | 1, b))
    return out


def md5_int_col(col: Column, hex_digits: int) -> Column:
    """First `hex_digits` hex chars of md5 parsed to a long — the
    engine-portable integer hash (F.hash/duckdb hash() differ).
    Spark side uses one `conv` call; the DuckDB twin keeps the
    strpos-polynomial form — identical values either way."""
    h = F.md5(col.cast("binary"))
    return F.conv(F.substring(h, 1, hex_digits), 16, 10).cast("long")


def duckdb_md5_int_sql(expr: str, hex_digits: int) -> str:
    out = "CAST(0 AS BIGINT)"
    for i in range(hex_digits):
        digit = f"(strpos('{_HEX}', substr(md5({expr}), {i + 1}, 1)) - 1)"
        out = f"({out} * 16 + {digit})"
    return out


# per-lang keep rates in integer percent — the training-mix weighting
# a pretraining pipeline applies before tokenization
SAMPLE_RATES_PCT = {"en": 50, "de": 75, "es": 25, "fr": 100, "zh": 10}
SAMPLE_SPACE = 16**7  # md5_int_col(_, 7) range


def stratified_keep_col(doc_id: Column, lang: Column, unlisted_pct: int) -> Column:
    """Deterministic stratified sampling: keep iff
    md5('sample|' || doc_id) < the lang's rate (``unlisted_pct`` for a
    lang :data:`SAMPLE_RATES_PCT` does not list) — reproducible across
    engines, runs and cluster sizes (no RNG state). Integer compare
    (u * 100 < pct * 16^7): no float boundary anywhere."""
    u = md5_int_col(F.concat(F.lit("sample|"), doc_id.cast("string")), 7)
    rate = None
    for code, pct in SAMPLE_RATES_PCT.items():
        cond = lang == code
        rate = F.when(cond, pct) if rate is None else rate.when(cond, pct)
    rate = rate.otherwise(F.lit(unlisted_pct)).cast("long")
    return (u * 100) < (rate * SAMPLE_SPACE)


# -------------------------------------------------------------- minhash ---


def spread_to_parallelism(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's parallelism when the input
    arrives under-parallelized (e.g. one small parquet file scans as a
    single partition, serializing the whole shingle+md5 pipeline onto
    one core — measured 9.0 s → 1.1 s at sf0.1/local[32]). The shuffle
    moves only (id, text) rows — trivial next to the hashing it
    parallelizes. At real scale the input is many files/buckets and
    this is a no-op.

    The under-parallelized probe is ``df.inputFiles()`` (cheap plan
    walk, Connect-safe) rather than ``df.rdd.getNumPartitions()``
    (which forces the DataFrame through full physical planning into an
    RDD per call), refined two ways:

    * a NON-file-backed plan (join/aggregate output, createDataFrame)
      reports zero inputs; it already carries its upstream shuffle's
      partitioning, so it is left alone — repartitioning it would
      re-shuffle a corpus for nothing;
    * few LARGE files are not under-parallelized: the scan splits them
      at ``spark.sql.files.maxPartitionBytes`` (8×1 GB files scan as
      ~64 tasks). When the file sizes are statable the estimated split
      count gates the spread; when not (object stores), few files keep
      the conservative spread — the measured local win."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files or len(files) >= target:
        return df
    try:
        import os
        from urllib.parse import urlparse

        total = 0
        for f in files:
            p = urlparse(f)
            if p.scheme not in ("", "file"):
                raise OSError("non-local input")
            total += os.stat(p.path).st_size
        raw = spark.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728"
        ).strip().lower().removesuffix("b")
        mult = {
            "k": 1 << 10,
            "m": 1 << 20,
            "g": 1 << 30,
            "t": 1 << 40,
            "p": 1 << 50,
        }.get(raw[-1:], 1)
        mpb = int(raw.rstrip("kmgtp") or "0") * mult
        if mpb <= 0:
            # a zero/negative conf is unparseable, not "1-byte splits"
            # (which would always suppress the spread)
            raise ValueError("non-positive maxPartitionBytes")
        est_splits = max(len(files), -(-total // mpb))
        if est_splits >= target:
            return df
    except (OSError, ValueError):
        pass  # size/conf unparseable -> assume small, keep the spread
    return df.repartition(target)


def minhash_signatures(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Integer MinHash signatures via explode + groupBy.

    Shape matters at scale: exploding shingle hashes and taking k
    ``min`` aggregates gets map-side partial aggregation (each of the
    k minima combines locally before the single shuffle on id), and
    every shingle is hashed exactly once — vs. a per-row array
    expression where the optimizer inlines the shingle pipeline into
    each of the k signature slots (k× recompute, no partials).

    Input is spread to the cluster parallelism first (see
    :func:`spread_to_parallelism` — a single-file scan would otherwise
    serialize the hashing onto one core).

    The shingle-hash stream comes from :func:`exploded_word_grams`
    (position-explode + flat codegen projection, NOT a per-gram
    ``transform`` lambda — the interpreted-HOF path was ~20x slower)
    and keeps duplicate occurrences: ``min`` over a multiset equals
    ``min`` over its distinct set, so signatures are bit-identical to
    the array_distinct form. A text with fewer than SHINGLE_N tokens
    hashes its whole text, exactly like :func:`shingles_col`."""
    text = F.col("text")
    exploded = exploded_word_grams(
        spread_to_parallelism(df),
        tokens_col(text),
        SHINGLE_N,
        keep=(id_col,),
        short=F.trim(F.lower(text)),
    ).select(id_col, md5_int_col(F.col("gram"), 7).alias("h"))
    aggs = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(
            f"_sig{i}"
        )
        for i, (a, b) in enumerate(_minhash_coeffs(MINHASH_K))
    ]
    return exploded.groupBy(id_col).agg(*aggs).select(
        id_col,
        F.array(*[f"_sig{i}" for i in range(MINHASH_K)]).alias("signature"),
    )


def minhash_signature_col(text: Column) -> Column:
    """Per-ROW MinHash signature expression — the streaming-safe twin
    of :func:`minhash_signatures` (a streaming DataFrame cannot run
    the explode+groupBy shape without becoming a streaming
    aggregation, which blocks any downstream join in append mode).
    Produces bit-identical values: min over the same shingle-hash
    multiset, permuted by the same md5-derived coefficients.

    Expression-shape note: the coefficient table is a DATA array
    iterated by ``transform``, not k unrolled slot expressions — so
    the shingle+md5 pipeline appears exactly once in the expression
    tree and CollapseProject cannot duplicate it per slot (the k×
    recompute that cost the batch path 140 s before it moved to
    explode+groupBy). Per-row cost is O(shingles × k) integer ops on
    an already-hashed int array — fine on an ingest stream; corpus
    scans stay on the groupBy path."""
    ints = F.transform(shingles_col(text), lambda s: md5_int_col(s, 7))
    coeffs = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in _minhash_coeffs(MINHASH_K)
        ]
    )
    return F.transform(
        coeffs,
        lambda c: F.array_min(
            F.transform(ints, lambda v: (v * c["a"] + c["b"]) % MINHASH_PRIME)
        ),
    )


def duckdb_shingle_ints_sql(expr: str) -> str:
    sh = duckdb_shingles_sql(expr)
    return f"list_transform({sh}, s -> {duckdb_md5_int_sql('s', 7)})"


def duckdb_minhash_from_ints_sql() -> str:
    """Signature list expression over a precomputed shingle-int column
    ``ints`` (callers materialize the ints in a CTE)."""
    mins = ", ".join(
        f"list_min(list_transform(ints, v -> (v * {a} + {b}) % {MINHASH_PRIME}))"
        for a, b in _minhash_coeffs(MINHASH_K)
    )
    return f"[{mins}]"


def lsh_bands_df(df: DataFrame) -> DataFrame:
    """Explode a (doc_id, signature) frame into (doc_id, band_idx,
    band_hash) rows."""
    return df.select(
        "doc_id", F.explode(band_structs_col()).alias("b")
    ).select("doc_id", "b.band_idx", "b.band_hash")


def band_structs_col() -> Column:
    """Array of (band_idx, band_hash) structs from the ``signature``
    column — the explode-ready expression behind :func:`lsh_bands_df`,
    exposed so callers that must CARRY extra columns through the
    explosion (e.g. a stream keeping ts/text to avoid a stream-stream
    join-back) can build the same band hashes."""
    rows = MINHASH_K // LSH_BANDS
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[F.col("signature")[b * rows + r] for r in range(rows)],
                    ).cast("binary")
                ).alias("band_hash"),
            )
            for b in range(LSH_BANDS)
        ]
    )


MAX_BUCKET = 64  # clique→star switchover: bounds per-bucket fan-out


def lsh_bucket_sizes(bands_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per (band_idx, band_hash) bucket: member count + min id — the
    skew diagnostic and the representative for oversized buckets."""
    return bands_df.groupBy("band_idx", "band_hash").agg(
        F.count("*").alias("bucket_n"),
        F.min(id_col).alias("bucket_min_id"),
    )


def lsh_candidate_pairs(bands_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Candidate pairs from the banded buckets, skew-guarded.

    Buckets of n ≤ :data:`MAX_BUCKET` members self-join into the full
    clique (n·(n-1)/2 pairs — the exact LSH semantics). Oversized
    buckets — on real web data these are boilerplate-identical
    mega-groups, and an unguarded self-join makes O(n²) shuffle rows —
    collapse to a *star*: every member pairs with the bucket's min id
    (n-1 rows, linear). The star keeps dedup connectivity intact: the
    downstream verify + keep-min-id pass still drops every true
    duplicate against the representative.

    Use :func:`lsh_bucket_sizes` to surface the bucket histogram /
    truncation count as a metric."""
    sized = bands_df.join(
        lsh_bucket_sizes(bands_df, id_col), ["band_idx", "band_hash"]
    )
    small = sized.filter(F.col("bucket_n") <= MAX_BUCKET)
    clique = (
        small.select(F.col(id_col).alias("id1"), "band_idx", "band_hash")
        .join(
            small.select(F.col(id_col).alias("id2"), "band_idx", "band_hash"),
            ["band_idx", "band_hash"],
        )
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
    )
    star = (
        sized.filter(
            (F.col("bucket_n") > MAX_BUCKET)
            & (F.col(id_col) != F.col("bucket_min_id"))
        )
        .select(F.col("bucket_min_id").alias("id1"), F.col(id_col).alias("id2"))
    )
    return clique.unionByName(star).distinct()


def bucket_skew(bands_df: DataFrame, id_col: str = "doc_id") -> dict:
    """LSH skew report: the largest bucket and how many buckets the
    :data:`MAX_BUCKET` star cap collapsed (one aggregate)."""
    row = lsh_bucket_sizes(bands_df, id_col).agg(
        F.max("bucket_n").alias("max_bucket_n"),
        F.sum(F.when(F.col("bucket_n") > MAX_BUCKET, 1).otherwise(0)).alias(
            "n_capped_buckets"
        ),
    ).collect()[0]
    return {
        "max_bucket_n": row["max_bucket_n"],
        "n_capped_buckets": int(row["n_capped_buckets"] or 0),
        "cap": MAX_BUCKET,
    }


def lsh_near_pairs(
    docs: DataFrame, threshold: float, bands_out: list | None = None
) -> DataFrame:
    """Verified near-dup pairs (id1 < id2) among ``docs`` (doc_id,
    text): MinHash → capped LSH candidates → shingle Jaccard
    >= ``threshold``. The bands DF self-joins and the shingle DF joins
    twice, so both are cached in the caller's scope (the shingle/md5
    pipeline runs once, not once per branch). ``bands_out`` (a list)
    receives the cached bands for :func:`bucket_skew`."""
    bands = cache(lsh_bands_df(minhash_signatures(docs)))
    if bands_out is not None:
        bands_out.append(bands)
    pairs = lsh_candidate_pairs(bands)
    sh = cache(docs.select("doc_id", shingles_col(F.col("text")).alias("sh")))
    return (
        pairs.join(sh.select(F.col("doc_id").alias("id1"), F.col("sh").alias("sh1")), "id1")
        .join(sh.select(F.col("doc_id").alias("id2"), F.col("sh").alias("sh2")), "id2")
        .filter(jaccard_col(F.col("sh1"), F.col("sh2")) >= threshold)
        .select("id1", "id2")
    )


def duckdb_capped_pairs_sql(id_col: str = "doc_id") -> str:
    """DuckDB twin of :func:`lsh_candidate_pairs`.

    Emits a SELECT referencing a ``sized`` CTE — callers must first
    install it via :func:`duckdb_sized_cte_sql` (which pairs each
    band row with its bucket's count + min id). The two helpers are a
    pair by contract."""
    return f"""
SELECT DISTINCT id1, id2 FROM (
  SELECT a.{id_col} AS id1, b.{id_col} AS id2
  FROM sized a JOIN sized b USING (band_idx, band_hash)
  WHERE a.bucket_n <= {MAX_BUCKET} AND a.{id_col} < b.{id_col}
  UNION ALL
  SELECT bucket_min_id AS id1, {id_col} AS id2
  FROM sized WHERE bucket_n > {MAX_BUCKET} AND {id_col} != bucket_min_id
)"""


def duckdb_sized_cte_sql(bands_cte: str = "bands", id_col: str = "doc_id") -> str:
    """The `sized` CTE body pairing each band row with its bucket's
    count + min id (twin of :func:`lsh_bucket_sizes` joined back)."""
    return f"""
SELECT {bands_cte}.*, s.bucket_n, s.bucket_min_id
FROM {bands_cte} JOIN (
  SELECT band_idx, band_hash, count(*) AS bucket_n,
         min({id_col}) AS bucket_min_id
  FROM {bands_cte} GROUP BY 1, 2
) s USING (band_idx, band_hash)"""


# ------------------------------------------------------------ winnowing ---

WINNOW_W = 4  # fingerprint window (Schleimer et al. winnowing)


def ordered_gram_ints_col(text: Column) -> Column:
    """Word-3-gram hash *sequence* (document order, duplicates kept —
    winnowing needs positions, unlike the MinHash shingle set)."""
    return F.transform(_shingle_seq_col(text), lambda s: md5_int_col(s, 7))


def winnow_from_hashes_col(h: Column) -> Column:
    """Winnowing fingerprint set over a gram-hash array column:
    minimum gram hash of every length-w sliding window
    (w = :data:`WINNOW_W`), deduplicated — the rolling-hash document
    fingerprint (guarantees shared fingerprints for any shared run of
    w+k-1 tokens, the property MOSS-style overlap detection needs).
    Feed it a *materialized* hash column (:func:`winnow_fingerprints`):
    the expression references ``h`` from four places, and over an
    unmaterialized gram pipeline CollapseProject inlines the whole md5
    pipeline into each — a codegen method so large that Janino
    compilation dominates (measured ~13 s for an 80-doc query;
    two-step ~5 s)."""
    w = WINNOW_W
    n = F.size(h)
    mins = F.transform(
        F.sequence(F.lit(0), n - w),
        lambda i: F.array_min(F.slice(h, i + 1, w)),
    )
    return F.array_distinct(
        F.when(n >= w, mins).otherwise(F.array(F.array_min(h)))
    )


def winnow_fingerprints(df: DataFrame) -> DataFrame:
    """(doc_id, fp) winnowing fingerprints, computed in two projections
    with a materialization boundary between them so the gram-hash
    pipeline is evaluated once per row and compiled once per stage
    (see :func:`winnow_from_hashes_col`). The intermediate gram arrays
    are cached in the caller's cache scope (session cache registry)."""
    hashes = cache(
        df.select(F.col("doc_id"), ordered_gram_ints_col(F.col("text")).alias("_h"))
    )
    return hashes.select(
        F.col("doc_id"), winnow_from_hashes_col(F.col("_h")).alias("fp")
    )


def duckdb_winnow_sql(expr: str) -> str:
    w = WINNOW_W
    seq = _duckdb_shingle_seq_sql(expr)
    h = f"list_transform({seq}, s -> {duckdb_md5_int_sql('s', 7)})"
    mins = (
        f"list_transform(range(1, len({h}) - {w - 2}), "
        f"i -> list_min(list_slice({h}, i, i + {w - 1})))"
    )
    return (
        f"list_distinct(CASE WHEN len({h}) >= {w} THEN {mins} "
        f"ELSE [list_min({h})] END)"
    )


# -------------------------------------------------------------- simhash ---


def _bit_balance(vals: Column, b: int) -> Column:
    """Σ over token hashes of (bit b set ? +1 : -1)."""
    return F.aggregate(
        vals,
        F.lit(0),
        lambda acc, v: acc
        + (F.floor(v / F.lit(2**b)).cast("int") % 2) * 2
        - 1,
    )


def simhash_col(text: Column, bits: int = SIMHASH_BITS) -> Column:
    """Sign-aggregate simhash over 16-bit md5 token hashes (per-row
    Column form; prefer :func:`simhash_signatures` for whole-table
    hashing — it gets map-side partial aggregation)."""
    vals = F.transform(
        F.array_distinct(tokens_col(text)), lambda t: md5_int_col(t, 4)
    )
    out = F.lit(0)
    for b in range(bits):
        out = out + F.when(_bit_balance(vals, b) >= 0, F.lit(2**b)).otherwise(
            F.lit(0)
        )
    return out


def simhash_signatures(df: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash via explode + groupBy: each token hashed once, the
    per-bit ±1 balances combine map-side before one shuffle on id —
    the same shape as :func:`minhash_signatures`, and the layout that
    survives a 100x scale-up. Token-hash width tracks `bits` (16-bit
    signatures suit histograms; near-pair joins want >=32 bits so
    buckets don't collide quadratically on large corpora).

    Two expression-level notes (same values, measured faster): the md5
    is applied per exploded row in a flat codegen projection rather
    than inside a ``transform`` lambda (interpreted path), and each
    bit test is ``shiftright & 1`` instead of ``floor(h / 2^b) % 2`` —
    identical for the non-negative md5-derived ints, without the
    per-token double division."""
    tok = F.explode(F.array_distinct(tokens_col(F.col("text"))))
    exploded = (
        spread_to_parallelism(df)
        .select(F.col("doc_id"), tok.alias("_tok"))
        .select(F.col("doc_id"), md5_int_col(F.col("_tok"), bits // 4).alias("h"))
    )
    aggs = [
        F.sum(
            F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"_b{b}")
        for b in range(bits)
    ]
    per_bit = exploded.groupBy("doc_id").agg(*aggs)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"_b{b}") >= 0, F.lit(2**b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return per_bit.select("doc_id", sim.alias("simhash"))


def duckdb_simhash_sql(expr: str, bits: int = SIMHASH_BITS) -> str:
    toks = f"list_distinct({duckdb_tokens_sql(expr)})"
    vals = f"list_transform({toks}, t -> {duckdb_md5_int_sql('t', bits // 4)})"
    terms = []
    for b in range(bits):
        bit_sum = (
            f"list_sum(list_transform({vals}, "
            f"v -> CAST(floor(v / {2**b}) AS BIGINT) % 2 * 2 - 1))"
        )
        terms.append(f"(CASE WHEN {bit_sum} >= 0 THEN {2**b} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def simhash_near_pairs(sigs: DataFrame, bits: int = 32) -> DataFrame:
    """Near-duplicate pairs by simhash Hamming distance ≤ 1, in the
    group-then-pair shape that stays linear on web data:

    1. group by exact signature → (simhash, rep=min id, n);
    2. *star* within each group: (rep, member, hamming=0) — identical
       signatures pair with their representative, never with each
       other (simhash collapses boilerplate/shared-vocabulary docs
       into huge identical-signature groups; a naive probe join is
       quadratic in group size — same hazard as the LSH mega-bucket);
    3. one-bit flip probes between *distinct signatures only*: each
       group's `bits` flips equi-join back to the group table, pairing
       representatives (hamming=1). Each distinct signature emits at
       most `bits` cross pairs — bounded by construction.

    Connectivity is preserved for keep-min-id dedup: every member
    reaches its representative, and representatives reach Hamming-1
    neighbor groups. `sigs`: (doc_id, simhash)."""
    groups = sigs.groupBy("simhash").agg(F.min("doc_id").alias("rep"))
    star = (
        sigs.join(groups, "simhash")
        .filter(F.col("doc_id") != F.col("rep"))
        .select(
            F.col("rep").alias("id1"),
            F.col("doc_id").alias("id2"),
            F.lit(0).alias("hamming"),
        )
    )
    probes = groups.select(
        F.col("rep").alias("id1"),
        F.explode(
            F.array(
                *[F.col("simhash").bitwiseXOR(F.lit(1 << b)) for b in range(bits)]
            )
        ).alias("probe"),
    )
    cross = (
        probes.join(
            groups.select(F.col("rep").alias("id2"), F.col("simhash").alias("sim2")),
            probes.probe == F.col("sim2"),
        )
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", F.lit(1).alias("hamming"))
        .distinct()
    )
    return star.unionByName(cross)


# -------------------------------------------------------------- jaccard ---


def jaccard_col(sh1: Column, sh2: Column) -> Column:
    inter = F.size(F.array_intersect(sh1, sh2))
    union = F.size(sh1) + F.size(sh2) - inter
    return inter / F.greatest(union, F.lit(1))


def candidate_jaccard(
    cand: DataFrame, batch: DataFrame, corpus: DataFrame
) -> DataFrame:
    """Raw shingle Jaccard of each (batch_id, corpus_id) candidate;
    ``batch`` and ``corpus`` are (doc_id, text). Candidates-only: each
    side is semi-joined to its candidate ids BEFORE shingling, never
    the whole corpus — at corpus scale the full-text parse is the
    expensive stage and candidates are a vanishing fraction (measured:
    17.5 s -> 0.9 s, the un-filtered corpus shingle pass ran
    single-partition). Callers apply their own threshold."""

    def shingled(side: DataFrame, id_col: str, sh: str) -> DataFrame:
        return side.join(
            cand.select(F.col(id_col).alias("doc_id")).distinct(), "doc_id"
        ).select(
            F.col("doc_id").alias(id_col),
            shingles_col(F.col("text")).alias(sh),
        )

    sh_c = shingled(corpus, "corpus_id", "sh2")
    sh_b = shingled(batch, "batch_id", "sh1")
    return (
        cand.join(sh_b, "batch_id")
        .join(sh_c, "corpus_id")
        .select(
            "batch_id",
            "corpus_id",
            jaccard_col(F.col("sh1"), F.col("sh2")).alias("jaccard"),
        )
    )


def duckdb_jaccard_sql(sh1: str, sh2: str) -> str:
    inter = f"len(list_intersect({sh1}, {sh2}))"
    return (
        f"({inter} / greatest(len({sh1}) + len({sh2}) - {inter}, 1))"
    )


# ------------------------------------------------- C4 line-level dedup ---


def line_dedup(docs: DataFrame) -> DataFrame:
    """Corpus-level LINE deduplication (C4, Raffel et al. 2020 §2.2:
    "we discarded all but one of any three-sentence span occurring
    more than once" — the line-granular variant Dolma/RefinedWeb run):
    every line keeps exactly its globally FIRST occurrence (total
    order = (doc_id, line index), resolved as a TWO-LEVEL min — min
    doc, then min index within that doc — so the order is exact at any
    line count; a single packed-integer key would collide past its
    multiplier, review finding), all later occurrences drop. Lines are
    '\\n'-separated on both engines. Returns per doc (doc_id, n_lines,
    n_kept, kept_md5) where kept_md5 fingerprints the surviving lines
    joined in original order — the reassembled-document check.

    Scale shape: explode → two hash aggregates (min doc per distinct
    line over the full stream — map-side partials; min index over the
    first-doc rows only, a vanishing fraction) → equi-join back on the
    line — boilerplate head lines ("subscribe to our newsletter") are
    heavily skewed but single-row-per-key on the aggregate side, the
    AQE skew-join shape — → one per-doc aggregate. No windows over the
    occurrence stream, nothing collected."""
    lines = docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), "\n")).alias("idx", "line"),
    )
    first_doc = lines.groupBy("line").agg(F.min("doc_id").alias("_fd"))
    first_idx = (
        lines.join(first_doc, "line")
        .filter(F.col("doc_id") == F.col("_fd"))
        .groupBy("line")
        .agg(F.min("doc_id").alias("_fd2"), F.min("idx").alias("_fi"))
    )
    kept = lines.join(first_idx, "line").filter(
        (F.col("doc_id") == F.col("_fd2")) & (F.col("idx") == F.col("_fi"))
    )
    kept_lines = F.concat_ws(
        "\n", F.sort_array(F.collect_list(F.struct("idx", "line")))["line"]
    )
    per_doc = lines.groupBy("doc_id").agg(F.count("*").alias("n_lines"))
    kept_agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.md5(kept_lines.cast("binary")).alias("kept_md5"),
    )
    return per_doc.join(kept_agg, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        "kept_md5",
    )


def duckdb_line_dedup_sql(docs_cte: str = "documents") -> str:
    """DuckDB twin of :func:`line_dedup` over a (doc_id, text) CTE."""
    return f"""
ld_keyed AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10))) AS line,
         unnest(range(0, len(string_split(text, chr(10))))) AS idx
  FROM {docs_cte}
), ld_first_doc AS (
  SELECT line, min(doc_id) AS fd FROM ld_keyed GROUP BY line
), ld_firsts AS (
  SELECT k.line, min(k.idx) AS fi, min(k.doc_id) AS fd2
  FROM ld_keyed k JOIN ld_first_doc f
    ON k.line = f.line AND k.doc_id = f.fd
  GROUP BY k.line
), ld_kept AS (
  SELECT k.doc_id, k.idx, k.line
  FROM ld_keyed k JOIN ld_firsts f
    ON k.line = f.line AND k.doc_id = f.fd2 AND k.idx = f.fi
), ld_perdoc AS (
  SELECT doc_id, count(*) AS n_lines FROM ld_keyed GROUP BY doc_id
), ld_keptagg AS (
  SELECT doc_id, count(*) AS n_kept,
         md5(string_agg(line, chr(10) ORDER BY idx)) AS kept_md5
  FROM ld_kept GROUP BY doc_id
)
SELECT p.doc_id, p.n_lines,
       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
       a.kept_md5
FROM ld_perdoc p LEFT JOIN ld_keptagg a USING (doc_id)
"""


# --------------------------------------------- connected components ---
CC_MAX_ROUNDS = 25


def connected_components(
    edges: DataFrame, report_out: dict | None = None
) -> DataFrame:
    """Distributed connected components over an (id1, id2) candidate-
    pair graph: ``(node, component)`` where ``component`` is the
    minimum node id in each component, after at most
    :data:`CC_MAX_ROUNDS` propagation rounds.

    The keep-one-per-cluster step of a dedup pipeline is per
    *component*, not per pair: near-dup similarity is not transitive,
    so LSH/SimHash pair lists chain A~B~C without ever emitting A~C —
    only the transitive closure groups them. This is the DataFrame
    rendering of the iterated min-label-propagation + pointer-jumping
    family used by MapReduce CC algorithms (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"): per round every
    node takes the min label over itself and its neighbours (one
    groupBy-min + one join), then labels are compressed one hop
    (``lbl := lbl(lbl)``, a self-join) — the jump halves the label
    tree depth, so rounds = O(log diameter), not O(diameter).

    Scale shape per round: 2 equi-joins + 1 groupBy on uniformly
    distributed ids (dup graphs are star/short-chain shaped — the
    capped LSH output is explicitly a star per bucket, so 2-4 rounds
    in practice). Each round is ONE Spark action: the label table,
    which carries every node's label from the start of the round, is
    eagerly ``localCheckpoint``-ed to keep lineage flat, and the
    fixpoint test — the count of labels that went down — is read
    from a ``DataFrame.observe`` metric on that same checkpoint, not
    from a second job. Labels only ever decrease, so 0 decreases =
    converged.

    ``report_out`` (a dict) receives convergence/skew telemetry at no
    extra compute — the per-round decreased-label counts are already
    the fixpoint test: ``{"rounds": r, "labels_moved_per_round":
    [...]}``. A long tail of small counts = a high-diameter chain;
    a huge first round = one dense mega-component (both the skew
    shapes a 100 TB closure run wants surfaced).
    """
    e1 = edges.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    e2 = edges.select(F.col("id2").alias("src"), F.col("id1").alias("dst"))
    # checkpoint the symmetrized edges once: the caller's edge plan is
    # typically the expensive part (LSH candidate join + Jaccard
    # verify ∪ ANN self-join), and every propagation round references
    # `sym` — without a boundary that whole pipeline re-executes per
    # round (review finding: ~3-6x on curate_job --closure)
    sym = e1.unionAll(e2).localCheckpoint()
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint()
    )
    moved_per_round: list[int] = []
    for _ in range(CC_MAX_ROUNDS):
        nbr = (
            sym.join(labels, sym["src"] == labels["node"])
            .groupBy(sym["dst"].alias("node"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        merged = labels.join(nbr, "node", "left").select(
            "node",
            F.col("lbl").alias("old"),
            F.least(
                F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))
            ).alias("lbl"),
        )
        hop = merged.select(
            F.col("node").alias("j_node"), F.col("lbl").alias("j_lbl")
        )
        moved = Observation()
        jumped = (
            merged.join(hop, merged["lbl"] == hop["j_node"], "left")
            .select(
                "node",
                "old",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("j_lbl"), F.col("lbl"))
                ).alias("lbl"),
            )
            .observe(moved, F.count_if(F.col("lbl") < F.col("old")).alias("n"))
            .localCheckpoint()
        )
        moved_per_round.append(moved.get["n"])
        labels = jumped.select("node", "lbl")
        if moved_per_round[-1] == 0:
            break
    if report_out is not None:
        report_out["labels_moved_per_round"] = moved_per_round
        report_out["rounds"] = len(moved_per_round)
    return labels.select(
        F.col("node").cast("long").alias("node"),
        F.col("lbl").cast("long").alias("component"),
    )


def duckdb_components_sql() -> str:
    """Recursive-CTE twin of :func:`connected_components`: min
    reachable id per node (exact transitive closure — fine at oracle
    scale). Expects ``edges(id1, id2)`` in scope; emits
    ``(node, component)`` with both BIGINT."""
    return """
sym AS (
  SELECT id1 AS src, id2 AS dst FROM edges
  UNION ALL
  SELECT id2, id1 FROM edges
),
reach(node, r) AS (
  SELECT src, dst FROM sym
  UNION
  SELECT re.node, s.dst FROM reach re JOIN sym s ON s.src = re.r
),
components AS (
  SELECT CAST(node AS BIGINT) AS node,
         CAST(least(node, min(r)) AS BIGINT) AS component
  FROM reach GROUP BY node
)"""
