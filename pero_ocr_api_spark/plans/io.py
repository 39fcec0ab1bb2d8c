"""Idempotent output writing + resume bookkeeping.

Production target is Iceberg (``MERGE INTO extracted USING new ON
doc_id``); the sandbox equivalent keeps the same contract on plain
parquet:

* :func:`write_extracted` — appends only doc_ids not already present
  (anti-join against the existing table), so task retries and job
  re-runs never duplicate a document — exactly-once per doc_id, the
  batch analog of the reference's at-least-once queue + idempotent
  page-state update (``general.py:210-224`` guarded by PK).
* :func:`read_done_ids` — the checkpoint read used to build the
  ``resume_from`` anti-join in ``run_extract``.
* :func:`write_band_index` — the same exactly-once contract into a
  band index table bucketed by its join key; one index serves either
  dedup family (:data:`TEXT_BANDS`, :data:`EMBEDDING_BANDS`), and
  :func:`band_candidates` is the one batch-vs-index candidate join.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pero_ocr_api_spark.session import cache, cache_scope


def _exists(spark: SparkSession, path: str) -> bool:
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


def read_done_ids(spark: SparkSession, path: str) -> DataFrame | None:
    if not _exists(spark, path):
        return None
    return spark.read.parquet(path).select("doc_id")


def write_extracted(
    spark: SparkSession,
    extracted: DataFrame,
    path: str,
    table_format: str = "parquet",
) -> int:
    """Merge-append: write only docs not already in `path`.

    Returns the number of rows written (parquet path; the Iceberg
    path returns -1 — row counts come from the snapshot summary
    there). ``table_format="iceberg"`` takes `path` as a catalog
    table name and issues the real ``MERGE INTO`` keyed by doc_id;
    it requires the Iceberg runtime on the classpath (not present in
    this sandbox, so this branch is UNTESTED here — see COVERAGE.md;
    the parquet anti-join below keeps the identical
    exactly-once-per-doc_id contract and is what the tests exercise,
    safe because doc_id is the primary key and a doc's row is
    immutable once written).

    The incoming batch is deduplicated on doc_id first: a retried
    upstream stage can hand this function two copies of a doc, and
    both ``WHEN NOT MATCHED`` and the parquet anti-join only guard
    against rows already in the *target* — without the source dedupe
    they would land twice. The Iceberg temp view gets a unique
    per-call name so two concurrent ``write_extracted`` calls in one
    SparkSession cannot race on it.

    The parquet branch is one job, counted by ``observe`` on the write;
    a batch with no new rows appends at most one empty file."""
    extracted = extracted.dropDuplicates(["doc_id"])
    if table_format == "iceberg":
        import uuid

        view = f"_new_extracted_{uuid.uuid4().hex}"
        extracted.createOrReplaceTempView(view)
        try:
            spark.sql(
                f"""
                MERGE INTO {path} t
                USING {view} s
                ON t.doc_id = s.doc_id
                WHEN NOT MATCHED THEN INSERT *
                """
            )
        finally:
            spark.catalog.dropTempView(view)
        return -1
    done = read_done_ids(spark, path)
    new_rows = (
        extracted if done is None else extracted.join(done, "doc_id", "left_anti")
    )
    written = Observation()
    writer = new_rows.observe(written, F.count(F.lit(1)).alias("n")).write
    writer.mode("append").parquet(path)
    return written.get["n"]


class BandFamily(NamedTuple):
    """One dedup family's band index, as data: the batch rows
    (``id_col``, ``value_col``) hash through ``bands(rows, dim)`` into
    (``id_col``, *``key_cols``) band rows; the stored index is
    bucketed by ``key_cols`` and sorted by ``sort_col``."""

    id_col: str
    value_col: str
    key_cols: tuple[str, str]
    sort_col: str
    bands: Callable[[DataFrame, int | None], DataFrame]


def _text_bands(rows: DataFrame, dim: int | None) -> DataFrame:
    from pero_ocr_api_spark.operators.dedup import lsh_bands_df, minhash_signatures

    return lsh_bands_df(minhash_signatures(rows))


def _embedding_bands(rows: DataFrame, dim: int | None) -> DataFrame:
    from pero_ocr_api_spark.operators import similarity

    return similarity.embedding_bands_df(similarity.as_double_vec(rows), dim)


# MinHash LSH bands over the text (dedup.lsh_bands_df)
TEXT_BANDS = BandFamily(
    "doc_id", "text", ("band_idx", "band_hash"), "band_hash", _text_bands
)
# sign-LSH ANN buckets over the vector (similarity.embedding_bands_df,
# the expression ann_self_pairs hashes through); needs ``dim``
EMBEDDING_BANDS = BandFamily(
    "vec_id", "embedding", ("t", "bucket"), "bucket", _embedding_bands
)


def write_band_index(
    spark: SparkSession,
    rows: DataFrame,
    table: str,
    family: BandFamily = TEXT_BANDS,
    dim: int | None = None,
    path: str | None = None,
    buckets: int = 16,
) -> int:
    """Build / incrementally extend a PERSISTENT band index — the
    amortization vehicle the incremental dedup paths assume
    (`incremental_dedup`, `incremental_embedding_dedup`, the
    ``streaming`` incremental dedups, curate_job stage 4d): the corpus
    is hashed ONCE at index-build time, and every daily batch or
    stream micro-batch equi-joins the stored band rows instead of
    re-hashing 10^12 documents or vectors.

    The table is bucketed by the family's JOIN KEY, so a candidate
    lookup scans it already hash-partitioned: with bucketed scans on
    (the default) only the incoming batch — the small side —
    shuffles. Plan-asserted in tests: broadcast disabled, the
    candidate join compiles to exactly ONE Exchange. Already-indexed
    ids are anti-joined away, so a crashed build re-submits as-is.
    Returns the number of NEW ids indexed.

    An empty FIRST batch still creates the (empty) table: readers
    read it back unconditionally (the build_dedup_index report,
    band_index_candidates), and an empty drop must be re-runnable.

    ``path`` makes the table external (data in `path`); bucket count
    is a table constant — pick ~(table size / a few GB) at production
    scale, and keep it fixed for the table's lifetime so every
    writer/reader agrees on the layout."""
    rows = rows.select(family.id_col, family.value_col).dropDuplicates(
        [family.id_col]
    )
    exists = spark.catalog.tableExists(table)
    if exists:
        done = spark.table(table).select(family.id_col).distinct()
        rows = rows.join(done, family.id_col, "left_anti")
    with cache_scope():
        rows = cache(rows)
        n = rows.count()
        if n or not exists:
            writer = (
                # repartition onto the bucket layout first: bucketBy makes
                # every task write one file PER BUCKET it holds, so an
                # unaligned batch adds up to tasks x buckets files per
                # append (measured: 3 appends -> 72 files at 4 buckets);
                # repartition(buckets, *key_cols) uses the same murmur3
                # pmod as the bucket spec, so each task holds exactly one
                # bucket and an append adds <= buckets files
                family.bands(rows, dim)
                .repartition(buckets, *family.key_cols)
                .write.mode("append")
                .format("parquet")
                .bucketBy(buckets, *family.key_cols)
                .sortBy(family.sort_col)
            )
            if path is not None:
                writer = writer.option("path", path)
            writer.saveAsTable(table)
    return n


def band_candidates(
    batch_bands: DataFrame, index_bands: DataFrame, family: BandFamily
) -> DataFrame:
    """The batch-vs-index candidate join: batch band rows equi-joined
    to index band rows on the family's key. Returns one row per
    shared band — the batch's columns with its id renamed
    ``batch_id``, plus ``corpus_id`` — so callers dedupe as their
    plan allows (``distinct`` in batch, a watermark in a stream).

    Self pairs are dropped: a retried batch or a replayed stream file
    overlaps the index it already wrote, its own stored rows would
    surface as (X, X) "duplicates", and a keep-list consumer would
    drop every retried doc. The ids compare as strings: a stream's
    doc_id is a string while the index keys it as a long, and ANSI
    mode refuses to cast a non-numeric string to a long."""
    corpus = index_bands.select(
        F.col(family.id_col).alias("corpus_id"), *family.key_cols
    )
    return (
        batch_bands.withColumnRenamed(family.id_col, "batch_id")
        .join(corpus, list(family.key_cols))
        .filter(
            F.col("batch_id").cast("string") != F.col("corpus_id").cast("string")
        )
        .drop(*family.key_cols)
    )


def band_index_candidates(
    spark: SparkSession,
    batch: DataFrame,
    table: str,
    family: BandFamily = TEXT_BANDS,
    dim: int | None = None,
) -> DataFrame:
    """Candidate (batch_id, corpus_id) pairs for a new batch against
    the stored band index: hash ONLY the batch, equi-join the
    bucketed index, dedupe across bands. The exact verify stays with
    the caller (it needs the text or vectors, which the index
    deliberately does not store)."""
    b_bands = family.bands(batch.select(family.id_col, family.value_col), dim)
    return band_candidates(b_bands, spark.table(table), family).distinct()
