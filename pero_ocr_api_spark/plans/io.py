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
"""

from __future__ import annotations

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


def write_extracted_bucketed(
    spark: SparkSession,
    extracted: DataFrame,
    table: str,
    path: str | None = None,
    buckets: int = 16,
) -> int:
    """Exactly-once merge-append into a **doc_id-bucketed table**
    (Spark native ``bucketBy`` — the closest sandbox analog of the
    north rule's "explicit doc_id-hash partitioning", i.e. Iceberg's
    ``bucket(N, doc_id)`` partition transform).

    Why bucketing matters at 10^12 docs: every resume / merge /
    downstream join keys on doc_id. Against a plain-parquet target
    the anti-join must shuffle BOTH sides; a bucketed target scans as
    already-hash-partitioned on doc_id (``spark.sql.sources.bucketing``
    is on by default), so only the incoming batch — the small side —
    shuffles. Plan-asserted in tests: with broadcasting disabled the
    merge anti-join compiles to exactly ONE Exchange (batch side),
    none on the bucketed scan.

    ``path`` makes the table external (data in `path`); bucket count
    is a table constant — pick ~(corpus size / a few GB) at
    production scale, and keep it fixed for the table's lifetime so
    every writer/reader agrees on the layout."""
    extracted = extracted.dropDuplicates(["doc_id"])
    if spark.catalog.tableExists(table):
        done = spark.table(table).select("doc_id")
        new_rows = extracted.join(done, "doc_id", "left_anti")
    else:
        new_rows = extracted
    with cache_scope():
        new_rows = cache(new_rows)
        n = new_rows.count()
        if n:
            writer = (
                # repartition onto the bucket layout first: bucketBy makes
                # every task write one file PER BUCKET it holds, so an
                # unaligned batch adds up to tasks x buckets files per
                # append (measured: 3 appends -> 72 files at 4 buckets);
                # repartition(buckets, doc_id) uses the same murmur3 pmod
                # as the bucket spec, so each task holds exactly one
                # bucket and an append adds <= buckets files
                new_rows.repartition(buckets, "doc_id")
                .write.mode("append")
                .format("parquet")
                .bucketBy(buckets, "doc_id")
                .sortBy("doc_id")
            )
            if path is not None:
                writer = writer.option("path", path)
            writer.saveAsTable(table)
    return n


def _num_buckets(spark: SparkSession, table: str) -> int:
    for row in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
        if row.col_name.strip() == "Num Buckets":
            return int(row.data_type)
    raise ValueError(f"{table} is not a bucketed table")


def compact_extracted_bucketed(
    spark: SparkSession, table: str
) -> tuple[int, int]:
    """Small-file compaction for a doc_id-bucketed output table;
    returns (files_before, files_after).

    Every :func:`write_extracted_bucketed` merge-append adds up to
    one file per (bucket, writer task) — at 10^12 docs with frequent
    incremental runs the table accumulates millions of tiny files and
    scan *planning* (file listing, footer reads) starts to dominate
    the jobs that read it. Compaction rewrites the table so each
    bucket holds exactly ONE file: the rewrite *forces* the bucketed
    scan (``autoBucketedScan`` pinned off for the statement — the
    planner otherwise drops the bucketed read here because no
    operator "needs" it, splits the scan by file, and every write
    task again emits per-bucket files), so the source arrives as one
    partition per bucket, each task emits one file, and the rewritten
    table keeps the identical bucket layout — the shuffle-free
    merge/resume property is preserved (re-asserted in tests after a
    compaction). The whole rewrite is shuffle-FREE: data moves disk →
    task → disk once, the shape Iceberg's bin-pack rewrite has.

    Production target is Iceberg's ``rewrite_data_files`` procedure,
    which swaps files under a snapshot atomically. The session-catalog
    stand-in stages the rewrite into ``<table>__compacting`` and then
    drops + renames — same end state, but the metadata swap is two
    operations, so a crash between them needs the staging table
    re-renamed by hand (documented, not hidden; the data itself is
    never at risk — both copies exist until the final rename)."""
    table_type = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    }.get("Type", "MANAGED")
    if table_type.upper() == "EXTERNAL":
        # the staging rewrite below is a MANAGED saveAsTable: renaming
        # it over an external table would silently repoint the table
        # at the warehouse and orphan the external files (review
        # finding) — refuse with a typed error instead
        raise ValueError(
            f"compact_extracted_bucketed: {table} is EXTERNAL (path-"
            "backed); compact it with the table format's own rewrite "
            "(Iceberg rewrite_data_files) — the session-catalog "
            "staging swap only preserves MANAGED tables"
        )
    files_before = len(spark.table(table).inputFiles())
    staging = f"{table}__compacting"
    spark.sql(f"DROP TABLE IF EXISTS {staging}")
    buckets = _num_buckets(spark, table)
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        (
            spark.table(table)
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(buckets, "doc_id")
            .sortBy("doc_id")
            .saveAsTable(staging)
        )
    finally:
        spark.conf.set(key, old)
    spark.sql(f"DROP TABLE {table}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
    return files_before, len(spark.table(table).inputFiles())


def write_band_index(
    spark: SparkSession,
    docs: DataFrame,
    table: str,
    path: str | None = None,
    buckets: int = 16,
) -> int:
    """Build / incrementally extend the PERSISTENT LSH band index —
    the amortization vehicle the incremental dedup paths assume
    (`incremental_dedup`, `streaming.stream_incremental_dedup`): the
    corpus is minhashed ONCE at index-build time, and every daily
    batch or stream micro-batch equi-joins the stored (band_idx,
    band_hash) rows instead of re-hashing 10^12 documents.

    The table is bucketed by the JOIN KEY (band_idx, band_hash), so
    a candidate lookup scans it already hash-partitioned: with
    bucketed scans on (the default) only the incoming batch — the
    small side — shuffles. Plan-asserted in tests: broadcast
    disabled, the candidate join compiles to exactly ONE Exchange.

    Append semantics mirror :func:`write_extracted_bucketed`:
    already-indexed doc_ids are anti-joined away, so re-running the
    index job after a partial failure never duplicates band rows
    (Iceberg MERGE analog). Returns the number of NEW docs indexed."""
    from pero_ocr_api_spark.operators.dedup import (
        lsh_bands_df,
        minhash_signatures,
    )

    docs = docs.select("doc_id", "text").dropDuplicates(["doc_id"])
    if spark.catalog.tableExists(table):
        done = spark.table(table).select("doc_id").distinct()
        docs = docs.join(done, "doc_id", "left_anti")
    with cache_scope():
        docs = cache(docs)
        n = docs.count()
        # an empty FIRST build still creates the (empty) table: callers
        # read it back unconditionally (jobs/build_dedup_index.py report,
        # band_index_candidates), and an empty drop must be re-runnable
        if n or not spark.catalog.tableExists(table):
            bands = lsh_bands_df(minhash_signatures(docs))
            writer = (
                # align writer tasks with the bucket layout (same
                # rationale as write_extracted_bucketed: an unaligned
                # append emits tasks x buckets files)
                bands.repartition(buckets, "band_idx", "band_hash")
                .write.mode("append")
                .format("parquet")
                .bucketBy(buckets, "band_idx", "band_hash")
                .sortBy("band_hash")
            )
            if path is not None:
                writer = writer.option("path", path)
            writer.saveAsTable(table)
    return n


def write_embedding_index(
    spark: SparkSession,
    emb: DataFrame,
    table: str,
    dim: int,
    path: str | None = None,
    buckets: int = 16,
) -> int:
    """Build / incrementally extend the PERSISTENT embedding-ANN band
    index — the embedding twin of :func:`write_band_index`, and the
    missing leg of the embedding production triangle (self-join →
    index → incremental): the corpus is sign-LSH-hashed ONCE at
    index-build time (``similarity.embedding_bands_df``, the identical
    expression ``ann_self_pairs`` uses), and every daily embedding
    drop equi-joins the stored (t, bucket) rows instead of re-hashing
    10^12 vectors.

    The table is bucketed by the JOIN KEY (t, bucket), so a candidate
    lookup scans it already hash-partitioned — only the incoming batch
    shuffles (plan-asserted in tests: broadcast disabled, the candidate
    join compiles to exactly ONE Exchange). Append semantics mirror
    :func:`write_band_index`: already-indexed vec_ids are anti-joined
    away, so a crashed build re-submits as-is. Returns the number of
    NEW vectors indexed.

    The exact-cosine verify stays with the caller — the index stores
    only (vec_id, t, bucket), never the vectors."""
    from pero_ocr_api_spark.operators import similarity

    emb = emb.select("vec_id", "embedding").dropDuplicates(["vec_id"])
    if spark.catalog.tableExists(table):
        done = spark.table(table).select("vec_id").distinct()
        emb = emb.join(done, "vec_id", "left_anti")
    with cache_scope():
        emb = cache(emb)
        n = emb.count()
        if n or not spark.catalog.tableExists(table):
            bands = similarity.embedding_bands_df(similarity.as_double_vec(emb), dim)
            writer = (
                bands.repartition(buckets, "t", "bucket")
                .write.mode("append")
                .format("parquet")
                .bucketBy(buckets, "t", "bucket")
                .sortBy("bucket")
            )
            if path is not None:
                writer = writer.option("path", path)
            writer.saveAsTable(table)
    return n


def embedding_index_candidates(
    spark: SparkSession,
    batch: DataFrame,
    table: str,
    dim: int,
) -> DataFrame:
    """Candidate (batch_id, corpus_id) pairs for a new embedding batch
    against the stored ANN band index: hash ONLY the batch, equi-join
    the bucketed index on (t, bucket), dedupe across tables. The exact
    cosine verify stays with the caller (it needs the vectors, which
    the index deliberately does not store)."""
    from pero_ocr_api_spark.operators import similarity

    b_bands = similarity.embedding_bands_df(
        similarity.as_double_vec(batch.select("vec_id", "embedding")), dim
    ).withColumnRenamed("vec_id", "batch_id")
    idx = spark.table(table).select(
        F.col("vec_id").alias("corpus_id"), "t", "bucket"
    )
    return (
        b_bands.join(idx, ["t", "bucket"])
        # a retried batch overlaps the index it already wrote (same
        # hazard as band_index_candidates): never emit (X, X)
        .filter(F.col("batch_id") != F.col("corpus_id"))
        .select("batch_id", "corpus_id")
        .distinct()
    )


def band_index_candidates(
    spark: SparkSession, batch: DataFrame, table: str
) -> DataFrame:
    """Candidate (batch_id, corpus_id) pairs for a new batch against
    the stored band index: hash ONLY the batch, equi-join the
    bucketed index on (band_idx, band_hash), dedupe across bands.
    The Jaccard / cosine verify stays with the caller (it needs the
    text, which the index deliberately does not store)."""
    from pero_ocr_api_spark.operators.dedup import (
        lsh_bands_df,
        minhash_signatures,
    )

    b_bands = lsh_bands_df(minhash_signatures(batch.select("doc_id", "text")))
    idx = spark.table(table).select(
        F.col("doc_id").alias("corpus_id"), "band_idx", "band_hash"
    )
    return (
        b_bands.select(F.col("doc_id").alias("batch_id"), "band_idx", "band_hash")
        .join(idx, ["band_idx", "band_hash"])
        # a retried batch overlaps the index it already wrote: its own
        # stored rows would otherwise surface as (X, X) "duplicates"
        # and a keep-list consumer would drop every retried doc
        .filter(F.col("batch_id") != F.col("corpus_id"))
        .select("batch_id", "corpus_id")
        .distinct()
    )
