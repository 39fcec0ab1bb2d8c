"""Similarity search over embedding columns (`array<float>`).

Five entry points:

* :func:`cosine_topk` — exact brute force: broadcast the (small)
  query side, one nested-loop scan of the corpus, per-query window
  top-k. The correctness baseline; O(|corpus| x |queries|) dot
  products.
* :func:`ann_topk` — random-hyperplane LSH: corpus and queries are
  bucketed by the sign pattern of dot products with fixed
  hyperplanes; candidates only join within a bucket. At cluster
  scale the bucket is the shuffle/partition key, turning ANN into an
  equi-join — the standard way to make nearest-neighbor shuffle-
  bounded instead of all-pairs.
* :func:`ann_topk_multiprobe` — the same index, each query also
  probing the Hamming-1 neighbours of its own buckets.
* :func:`ivf_topk` — inverted file: each query probes its `nprobe`
  nearest k-means cells.
* :func:`ann_self_pairs` — the whole corpus against itself (nothing
  broadcast), scored through :func:`candidate_cosine`.

The three approximate top-k operators differ only in their probe, the
code that yields (qid, vec_id) candidates. They share one probe join
(:func:`_probe_join`: broadcast equi-join on the index key, self
pairs dropped, candidates deduplicated) and one rescore body
(:func:`_rescore_topk`: vectors joined to the candidates and to the
broadcast query vectors, rounded cosine, per-query top-k). The exact
scan shares its query-vector lookup and its scoring.

Hyperplanes are deterministic md5-derived integer vectors computed
driver-side and embedded as literals (engine-portable: the DuckDB
oracle embeds the same numbers).

All dot products of the scoring path run as JVM `zip_with`/`aggregate`
expressions — no Python in it; only the IVF centroid training runs in
numpy, over its bounded sample.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pero_ocr_api_spark.functions.portable import round_bin
from pero_ocr_api_spark.session import cache, local_frame

ANN_PLANES = 6
ANN_TABLES = 4
ANN_TABLE_PLANES = 4

# ann_self_pairs and the top-k operators cache their normed-vector and
# bands intermediates: each is referenced from 2-4 places of one plan,
# and without a boundary the 16x64-literal hyperplane dot-product
# subtree re-executes per reference (measured 24 s -> with cache the
# dominant stage runs once). The caches belong to the caller's scope
# in the session cache registry.


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def as_double_vec(df: DataFrame) -> DataFrame:
    """``df`` with its ``embedding`` vector as doubles in ``v``."""
    return df.withColumn("v", F.transform("embedding", lambda x: x.cast("double")))


@lru_cache(maxsize=256)
def hyperplanes(dim: int, planes: int = ANN_PLANES, table: int = 0) -> list[list[int]]:
    """Deterministic pseudo-random integer hyperplanes in [-128, 127];
    `table` salts the family so multiple hash tables are independent.
    Memoized — every bucket expression construction re-derives the same
    md5 literals (driver-side cost, but paid per plan build). Callers
    must treat the returned lists as read-only."""
    out = []
    for p in range(planes):
        out.append(
            [
                int(
                    hashlib.md5(f"t{table}_plane{p}_{d}".encode()).hexdigest()[:2],
                    16,
                )
                - 128
                for d in range(dim)
            ]
        )
    return out


def _planes_lit(dim: int, planes: int, table: int) -> Column:
    """The plane family as ONE foldable literal array<array<double>> —
    ConstantFolding collapses it to a single Literal node, so the
    codegen'd projection carries one constant instead of `planes`
    inlined 64-literal expressions (the Janino-compile hazard the
    winnow fix taught, see dedup.winnow_fingerprints)."""
    return F.array(
        *[
            F.array(*[F.lit(float(x)) for x in w])
            for w in hyperplanes(dim, planes, table)
        ]
    )


def _bucket_from_planes(v: Column, planes_arr: Column) -> Column:
    """bucket = Σ_p 2^p · [v · plane_p ≥ 0] over an array-of-planes
    column — a single higher-order expression regardless of plane
    count (2^p exact in doubles for any plausible p)."""
    contribs = F.transform(
        planes_arr,
        lambda w, p: F.when(dot_col(v, w) >= 0, F.pow(F.lit(2.0), p)).otherwise(
            F.lit(0.0)
        ),
    )
    return F.aggregate(contribs, F.lit(0.0), lambda a, x: a + x).cast("int")


def bucket_col(v: Column, dim: int) -> Column:
    """LSH bucket id: bit p = sign(v . plane_p) over the
    :data:`ANN_PLANES` planes of table 0."""
    return _bucket_from_planes(v, _planes_lit(dim, ANN_PLANES, 0))


def bucket_struct_col(v: Column, dim: int, tables: int, planes: int) -> Column:
    """Array of (table, bucket) structs — one entry per hash table.
    All tables' planes ride in one constant-folded literal matrix; the
    per-table bucket is computed by one shared higher-order expression
    (same values as the unrolled form — 2^p weights, ≥0 sign test)."""
    mat = F.array(*[_planes_lit(dim, planes, t) for t in range(tables)])
    return F.transform(
        mat,
        lambda tp, t: F.struct(
            t.cast("int").alias("t"),
            _bucket_from_planes(v, tp).alias("bucket"),
        ),
    )


def _with_norm(emb: DataFrame) -> DataFrame:
    """(vec_id, v, norm): the double vector and its L2 norm."""
    # spread first: a single-file embedding scan would serialize the
    # per-vector dot products onto one core (see dedup.spread_to_parallelism)
    from pero_ocr_api_spark.operators.dedup import spread_to_parallelism

    emb = as_double_vec(spread_to_parallelism(emb))
    return emb.select(
        "vec_id", "v", F.sqrt(dot_col(F.col("v"), F.col("v"))).alias("norm")
    )


def _not_self() -> Column:
    return F.col("vec_id") != F.col("qid")


def _probe_join(
    index: DataFrame, probes: DataFrame, key: str | list[str]
) -> DataFrame:
    """The one probe join: index rows (vec_id, key) meet the broadcast
    probe rows (qid, key); self pairs are dropped and the (qid, vec_id)
    candidates deduplicated *before* vectors are re-joined for scoring
    — the shape that matters at scale, where re-scoring a duplicate
    candidate is the dominant waste."""
    return (
        index.join(F.broadcast(probes), key)
        .filter(_not_self())
        .select("qid", "vec_id")
        .distinct()
    )


def _query_vecs(e: DataFrame, query_ids: DataFrame) -> DataFrame:
    """The query vectors (qid, qv, qn) of the normed corpus ``e``,
    broadcast-hinted: the query side is small by contract."""
    return F.broadcast(
        e.join(query_ids, "vec_id").select(
            F.col("vec_id").alias("qid"),
            F.col("v").alias("qv"),
            F.col("norm").alias("qn"),
        )
    )


def _score_topk(sims: DataFrame, k: int) -> DataFrame:
    """Rounded cosine of each (qid, vec_id) row of ``sims`` (v, norm
    beside qv, qn), then the top ``k`` per query."""
    cosine = round_bin(
        dot_col(F.col("v"), F.col("qv")) / (F.col("norm") * F.col("qn")), 4
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), "vec_id")
    return (
        sims.select("qid", "vec_id", cosine.alias("cosine"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id", "cosine", "rn")
    )


def _rescore_topk(
    e: DataFrame, query_ids: DataFrame, k: int, cand: DataFrame
) -> DataFrame:
    """The one rescore body of the approximate operators: the (qid,
    vec_id) candidates ``cand`` join to the normed vectors ``e`` and to
    the broadcast query vectors, then score and keep the top ``k``."""
    sims = cand.join(e, "vec_id").join(_query_vecs(e, query_ids), "qid")
    return _score_topk(sims, k)


def cosine_topk(emb: DataFrame, query_ids: DataFrame, k: int) -> DataFrame:
    """Exact top-k cosine neighbors per query vec_id: one nested-loop
    scan of every other corpus row against the broadcast query vectors
    (routing it through a candidate set would add a shuffle join),
    scored like the approximate operators."""
    # two plan references (query lookup + corpus scan) — one cached
    # norm pass instead of two
    e = cache(_with_norm(emb))
    return _score_topk(e.join(_query_vecs(e, query_ids), _not_self()), k)


def _lsh_index(
    emb: DataFrame, query_ids: DataFrame, dim: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Normed vectors, their (vec_id, t, bucket) rows over
    :data:`ANN_TABLES` tables of :data:`ANN_TABLE_PLANES` planes, and
    the queries' own (qid, t, bucket) rows. ``e`` is referenced by the
    bucket pass, the candidate re-score join and the query-vector
    lookup; the bands by the corpus and query sides — both are cached
    so the norm and hyperplane pipelines run once per call, not once
    per plan reference (the ann_self_pairs lesson; on an unbounded
    corpus the same boundary comes free from the persisted bucketed
    index table)."""
    e = cache(_with_norm(emb))
    bucketed = cache(embedding_bands_df(e, dim, ANN_TABLES, ANN_TABLE_PLANES))
    own = bucketed.join(query_ids, "vec_id").select(
        F.col("vec_id").alias("qid"), "t", "bucket"
    )
    return e, bucketed, own


def ann_topk(emb: DataFrame, query_ids: DataFrame, k: int, dim: int) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH.

    Probe: the query's own bucket in each of :data:`ANN_TABLES`
    independent hash tables (recall stacks as 1-(1-p)^L). On
    unstructured (near-random) embeddings recall ≈ the scanned corpus
    fraction by information-theoretic necessity; on clustered real
    embeddings the same plan concentrates neighbors into shared
    buckets."""
    e, bucketed, own = _lsh_index(emb, query_ids, dim)
    cand = _probe_join(bucketed, own, ["t", "bucket"])
    return _rescore_topk(e, query_ids, k, cand)


# ---------------------------------------------------- corpus-scale self-join ---

ANN_SELF_PLANES = 8  # more planes than the query path: bucket size is
# the self-join fan-out, so it must shrink as the corpus grows (add a
# plane per doubling); the star cap below is the backstop for
# degenerate dense clusters that no plane count can split.
ANN_SELF_TABLES = 2


def embedding_bands_df(
    e: DataFrame,
    dim: int,
    tables: int = ANN_SELF_TABLES,
    planes: int = ANN_SELF_PLANES,
) -> DataFrame:
    """Explode double vectors ``e`` (vec_id, v) into the embedding
    index's (vec_id, t, bucket) rows, one per hash table — the twin of
    ``dedup.lsh_bands_df``. The stored index, the batch side of an
    index lookup and the self-join all hash through this one
    expression, so their buckets always agree."""
    return e.select(
        "vec_id",
        F.explode(bucket_struct_col(F.col("v"), dim, tables, planes)).alias("b"),
    ).select("vec_id", "b.t", "b.bucket")


def candidate_cosine(
    cand: DataFrame,
    batch: DataFrame,
    corpus: DataFrame,
    ids: tuple[str, str] = ("batch_id", "corpus_id"),
) -> DataFrame:
    """Raw cosine of each candidate pair, whose ``ids`` columns name a
    ``batch`` and a ``corpus`` vec_id; ``batch`` and ``corpus`` are
    normed vectors (vec_id, v, norm). Vectors join for candidate rows
    only — batch-linear, never corpus x batch. Callers apply their own
    rounding and threshold."""
    for i, (id_col, side) in enumerate(zip(ids, (batch, corpus)), 1):
        cand = cand.join(
            side.select(
                F.col("vec_id").alias(id_col),
                F.col("v").alias(f"v{i}"),
                F.col("norm").alias(f"n{i}"),
            ),
            id_col,
        )
    return cand.select(
        *ids,
        (dot_col(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2"))).alias(
            "cosine"
        ),
    )


def ann_self_pairs(
    emb: DataFrame, threshold: float, dim: int, bands_out: list | None = None
) -> DataFrame:
    """Corpus-scale near-pair discovery: the whole corpus vs itself,
    with NO broadcast of either side — the op a 100 TB embedding-dedup
    run actually needs (the ``*_topk`` entries assume a broadcast-sized
    query set; here query side == corpus).

    Shape: every vector lands in one bucket per hash table; candidate
    pairs come from a *bucketed equi-self-join* on (table, bucket),
    reusing the dedup LSH cap machinery (`lsh_candidate_pairs`) — a
    bucket up to ``dedup.MAX_BUCKET`` members emits its clique, an oversized
    bucket (a dense near-identical cluster, the web-scale hazard)
    collapses to a star around its min id, keeping keep-min-id
    connectivity at linear fan-out. Candidates are deduped across
    tables before the exact cosine re-score, and both vector joins are
    plain shuffles on vec_id — Catalyst/AQE may still *choose* a
    broadcast when a side is genuinely small, but nothing in this plan
    requires one (asserted in tests: no broadcast hint, and the plan
    compiles to shuffle joins with broadcasting disabled).

    Both intermediates are cached in the caller's cache scope: `e`
    (vec_id, v, norm) is referenced by two scored joins, `bands` by
    three subtrees of the cap machinery — without a boundary the
    hyperplane dot-product pipeline re-executes ~4× (it was the
    dominant stage). The cache is MEMORY_AND_DISK (spills, never
    OOMs); on an unbounded corpus the same boundary comes free from
    writing `bands` to the bucketed index table.
    `bands_out` (a list) receives the cached bands DF so callers can
    derive skew diagnostics (`dedup.lsh_bucket_sizes`) at no extra
    compute."""
    from pero_ocr_api_spark.operators import dedup

    e = cache(_with_norm(emb))
    bands = cache(
        embedding_bands_df(e, dim).withColumnsRenamed(
            {"t": "band_idx", "bucket": "band_hash"}
        )
    )
    if bands_out is not None:
        bands_out.append(bands)
    cand = dedup.lsh_candidate_pairs(bands, id_col="vec_id")
    return (
        candidate_cosine(cand, e, e, ("id1", "id2"))
        .select("id1", "id2", round_bin(F.col("cosine"), 4).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


IVF_NLIST = 16
IVF_NPROBE = 4
# Training-sample budget in ROWS, not a rate: the modulus is derived
# from the corpus count at plan time (mod = max(1, n div budget)), so
# the sample trained_centroids collects is metadata-sized BY
# CONSTRUCTION at any corpus size. A production
# index wants ~nlist*256; the query-level default is nlist*16 — enough
# sample per centroid for stable Lloyd cells at sandbox scale.
IVF_SAMPLE_ROWS = 256
IVF_LLOYD_ITERS = 2


def quant16(c: Column) -> Column:
    """Snap a double onto the 2^-16 binary grid (round-half-up).

    This is the exact-arithmetic keystone of the trained-IVF oracle
    parity: grid values are exactly representable doubles, so every
    cross-row SUM of them (centroid means, dot products of grid
    vectors) is exact and therefore independent of Spark's partial-
    aggregation order vs DuckDB's — the one place float summation
    order could diverge between engines. x*65536 (power-of-two
    multiply), +0.5, floor, /65536 are each individually exact, so
    the whole expression is bit-identical across engines."""
    return F.floor(c * F.lit(65536.0) + F.lit(0.5)) / F.lit(65536.0)


def duckdb_quant16_sql(expr: str) -> str:
    return f"(floor({expr} * 65536.0 + 0.5) / 65536.0)"


def trained_centroids(emb: DataFrame) -> DataFrame:
    """K-means-trained coarse centroids for the IVF index: a
    deterministic row-budgeted sample drawn in Spark, then ntile init
    and :data:`IVF_LLOYD_ITERS` Lloyd iterations in numpy over the
    collected sample (nlist = :data:`IVF_NLIST` cells, sample_rows =
    :data:`IVF_SAMPLE_ROWS`). A production index trains once per
    corpus, not per query: callers keep the result per (session,
    corpus) and pass it to :func:`ivf_topk` (see
    queries_textops._ivf_cents, a session corpus memo).

    * sample: row kept iff ``md5('ivfsamp|'||vec_id) % mod == 0`` with
      ``mod = max(1, n div sample_rows)`` where n is the corpus count
      (a 1-row aggregate cross-joined in). Expected sample size is in
      [sample_rows, 2*sample_rows) whenever n >= sample_rows, so the
      collected sample is metadata-sized BY CONSTRUCTION at any corpus
      size. The md5 coin is the house engine-portable hash
      (dedup.md5_int_col), reproduced bit-for-bit by the twin.
    * init: ntile(nlist) over vec_id order (the first n % nlist tiles
      hold one extra row), one representative per tile — spread
      across the ingest order, so data clustered by ingest (where
      first-n init collapses into one region) still gets covering
      centroids.
    * Lloyd: assign each sample row to its nearest centroid by cosine
      (ties and NaN: the lowest cell, as Spark's descending order puts
      NaN first), recompute element-wise means, re-snap onto the
      2^-16 grid (see :func:`quant16`). Grid values keep every dot
      product and every mean's sum exact in any order, so the DuckDB
      oracle reproduces the centroids bit-for-bit. A cell left without
      members is dropped.

    Returns a local (cell, cv, cn) DataFrame of at most nlist rows."""
    import numpy as np

    from pero_ocr_api_spark.operators.dedup import md5_int_col

    e = _with_norm(emb)
    nrow = e.agg(F.count("*").alias("_n"))
    u = md5_int_col(
        F.concat(F.lit("ivfsamp|"), F.col("vec_id").cast("string")), 7
    )
    mod = F.greatest(F.lit(1).cast("long"), F.expr(f"_n div {IVF_SAMPLE_ROWS}"))
    rows = sorted(  # by vec_id, the first field
        e.crossJoin(nrow)
        .filter(u % mod == 0)
        .select("vec_id", F.transform("v", quant16).alias("vq"))
        .collect()
    )
    schema = "cell int, cv array<double>, cn double"
    if not rows:  # an empty corpus has no cells
        return local_frame(emb.sparkSession, [], schema)
    x = np.array([r["vq"] for r in rows], dtype=np.float64)
    n, k = len(rows), min(IVF_NLIST, len(rows))
    cells = np.arange(1, k + 1)
    c = x[[t * (n // IVF_NLIST) + min(t, n % IVF_NLIST) for t in range(k)]]
    xn = np.sqrt((x * x).sum(1))[:, None]
    with np.errstate(invalid="ignore", divide="ignore"):
        for _ in range(IVF_LLOYD_ITERS):
            s = (x @ c.T) / (xn * np.sqrt((c * c).sum(1)))
            best = np.argmax(s, axis=1)
            kept = np.unique(best)
            means = np.array([x[best == j].mean(0) for j in kept])
            cells, c = cells[kept], np.floor(means * 65536.0 + 0.5) / 65536.0
    return local_frame(
        emb.sparkSession,
        [(int(j), cv.tolist(), float(np.sqrt(cv @ cv))) for j, cv in zip(cells, c)],
        schema,
    )


def ivf_assign(
    emb: DataFrame, centroids: DataFrame, rank_limit: int = 1
) -> DataFrame:
    """Assign each vector to its `rank_limit` nearest centroids by
    cosine (rounded, centroid-id tie-break — deterministic across
    engines). Returns (vec_id, cell, rn)."""
    scored = emb.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "cell",
        round_bin(
            dot_col(F.col("v"), F.col("cv")) / (F.col("norm") * F.col("cn")), 4
        ).alias("ccos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), "cell")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= rank_limit)
        .select("vec_id", "cell", "rn")
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: DataFrame,
    k: int,
    centroids: DataFrame,
) -> DataFrame:
    """IVF (inverted-file) ANN: the corpus is partitioned into
    :data:`IVF_NLIST` cells around coarse centroids; probe: a query's
    :data:`IVF_NPROBE` nearest cells, re-scored exactly inside them.

    ``centroids`` come from :func:`trained_centroids`, trained once per
    corpus by the caller (this call pays only assignment and probe) —
    a deterministic spread sample drawn in Spark + Lloyd iterations in
    numpy over it, reproduced bit-for-bit by the DuckDB oracle via
    2^-16-grid exact arithmetic.

    Scale shape: the cell id is the partition key of the inverted
    file (cluster-by on write); assignment is a broadcast cross-join
    against nlist rows (nlist ~ sqrt(N) << N); probing fans out only
    the query side nprobe ways. Complements the LSH path: IVF adapts
    to the data's density, LSH needs no training."""
    # e feeds corpus assignment, query probing, the candidate re-score
    # join and the query-vector lookup (4 plan references) — cache it
    # so the norm pass runs once per call
    e = cache(_with_norm(emb))
    cells = ivf_assign(e, centroids, 1).select("vec_id", "cell")
    probes = ivf_assign(e.join(query_ids, "vec_id"), centroids, IVF_NPROBE).select(
        F.col("vec_id").alias("qid"), "cell"
    )
    return _rescore_topk(e, query_ids, k, _probe_join(cells, probes, "cell"))


def duckdb_ivf_cents_cte_sql(dim: int) -> str:
    """DuckDB twin of :func:`trained_centroids` as a CTE chain ending
    in ``cents (cell, cv, cn)``. Expects an ``emb`` CTE with
    (vec_id, v DOUBLE[]). Bit-identical to the Spark path because all
    cross-row sums run over 2^-16-grid values (see :func:`quant16`) —
    exact in any accumulation order — and the sample coin is the same
    md5 integer hash with the same count-derived modulus."""
    from pero_ocr_api_spark.operators.dedup import duckdb_md5_int_sql

    q = duckdb_quant16_sql
    u = duckdb_md5_int_sql("'ivfsamp|' || CAST(vec_id AS VARCHAR)", 7)
    parts = [
        "ivf_nrow AS (SELECT count(*) AS n FROM emb)",
        f"""samp AS (
  SELECT vec_id, list_transform(v, x -> {q('x')}) AS vq
  FROM emb CROSS JOIN ivf_nrow
  WHERE {u} % greatest(1, n // {IVF_SAMPLE_ROWS}) = 0
)""",
        f"""tiled AS (
  SELECT vec_id, vq, ntile({IVF_NLIST}) OVER (ORDER BY vec_id) AS cell FROM samp
)""",
        """c0 AS (
  SELECT cell, vq AS cv FROM (
    SELECT *, row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
    FROM tiled
  ) WHERE rn = 1
)""",
    ]
    cos = (
        "list_dot_product(s.vq, c.cv) / "
        "(sqrt(list_dot_product(s.vq, s.vq)) * sqrt(list_dot_product(c.cv, c.cv)))"
    )
    for i in range(1, IVF_LLOYD_ITERS + 1):
        parts.append(
            f"""a{i} AS (
  SELECT vec_id, cell FROM (
    SELECT s.vec_id, c.cell, row_number() OVER (
      PARTITION BY s.vec_id ORDER BY {cos} DESC, c.cell) AS rn
    FROM samp s CROSS JOIN c{i - 1} c
  ) WHERE rn = 1
)""",
        )
        parts.append(
            f"""c{i} AS (
  SELECT cell, list(m ORDER BY pos) AS cv FROM (
    SELECT cell, pos, {q('(sum(val) / count(*))')} AS m
    FROM (
      SELECT a.cell, r.pos, s.vq[r.pos] AS val
      FROM a{i} a JOIN samp s USING (vec_id)
      CROSS JOIN (SELECT CAST(range AS INTEGER) AS pos
                  FROM range(1, {dim + 1})) r
    ) GROUP BY cell, pos
  ) GROUP BY cell
)""",
        )
    parts.append(
        f"cents AS (SELECT cell, cv, sqrt(list_dot_product(cv, cv)) AS cn "
        f"FROM c{IVF_LLOYD_ITERS})"
    )
    return ",\n".join(parts)


def ann_topk_multiprobe(
    emb: DataFrame, query_ids: DataFrame, k: int, dim: int
) -> DataFrame:
    """Multi-probe ANN: probe: each query's own bucket plus the buckets
    at Hamming distance 1 from it (one sign-bit flip per hyperplane)
    in every table — the standard recall amplifier (Lv et al.,
    multi-probe LSH) that costs nothing on the corpus side.

    Scale shape: probing explodes only the *query* rows ((planes+1)x
    per table); the corpus keeps exactly one bucket row per table, so
    the shuffle/storage footprint of the index is unchanged and the
    candidate join stays an equi-join on (table, bucket). Probing
    1-bit neighbors scans the buckets whose boundary the query sits
    closest to — where near-misses of sign-LSH live."""
    e, bucketed, own = _lsh_index(emb, query_ids, dim)
    flips = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << p))
            for p in range(ANN_TABLE_PLANES)
        ],
    )
    probes = own.select("qid", "t", F.explode(flips).alias("bucket"))
    cand = _probe_join(bucketed, probes, ["t", "bucket"])
    return _rescore_topk(e, query_ids, k, cand)
