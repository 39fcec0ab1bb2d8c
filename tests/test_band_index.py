"""Persistent band index, both dedup families: idempotent build,
batch-only shuffle on candidate lookup, no self pairs, empty first
build, and the build_dedup_index CLI (the corpus-hashed-ONCE artifact
incremental dedup amortizes against).

Each check has one body, run once per family: the text tests below
and their embedding twins in tests/test_embedding_index.py."""

from __future__ import annotations

import json
import os
import sys
import tempfile
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pero_ocr_api_spark.operators import dedup, similarity
from pero_ocr_api_spark.plans.io import (
    EMBEDDING_BANDS,
    TEXT_BANDS,
    BandFamily,
    band_candidates,
    band_index_candidates,
    write_band_index,
)

DIM = 8


def text_row(i: int) -> tuple:
    return (i, f"corpus doc {i} with shared vocabulary alpha beta gamma delta w{i}")


def vec(i: int) -> list[float]:
    # deterministic spread directions: distinct sign patterns per id
    return [
        float(((i >> (d % 4)) & 1) * 2 - 1) * (1.0 + 0.1 * d + 0.01 * i)
        for d in range(DIM)
    ]


def _embedding_fresh_bands(df: DataFrame) -> DataFrame:
    # the bucket expression spelled out, independent of embedding_bands_df
    e = similarity.as_double_vec(df)
    return e.select(
        "vec_id",
        F.explode(
            similarity.bucket_struct_col(
                F.col("v"), DIM, similarity.ANN_SELF_TABLES, similarity.ANN_SELF_PLANES
            )
        ).alias("b"),
    ).select("vec_id", "b.t", "b.bucket")


class Case(NamedTuple):
    name: str  # the CLI report's "family"
    family: BandFamily
    dim: int | None
    schema: str
    rows_per_id: int
    row: Callable[[int], tuple]  # corpus row of id i
    twin: Callable[[int, int], tuple]  # batch row `new` near-twinning corpus row i
    novel: tuple  # a batch row unlike any corpus row
    fresh_bands: Callable[[DataFrame], DataFrame]  # (id, *key_cols) rows
    cli_args: Callable[[str], list[str]]  # input path -> family argv


TEXT = Case(
    "text",
    TEXT_BANDS,
    None,
    "doc_id long, text string",
    dedup.LSH_BANDS,
    text_row,
    lambda new, i: (new, text_row(i)[1] + " suffix"),
    (2000, "unrelated novel ingest text nothing shared here at all"),
    lambda df: dedup.lsh_bands_df(dedup.minhash_signatures(df)),
    lambda path: ["--documents", path],
)
EMBEDDING = Case(
    "embedding",
    EMBEDDING_BANDS,
    DIM,
    "vec_id long, embedding array<float>",
    similarity.ANN_SELF_TABLES,
    lambda i: (i, vec(i)),
    # a scaled twin: same direction ⇒ identical sign buckets, cosine 1.0
    lambda new, i: (new, [x * 1.1 for x in vec(i)]),
    (2000, [(-1.0) ** d * 7.5 for d in range(DIM)]),
    _embedding_fresh_bands,
    lambda path: ["--embeddings", path, "--dim", str(DIM)],
)


def _df(spark, case: Case, rows) -> DataFrame:
    return spark.createDataFrame(rows, case.schema)


def _corpus(spark, case: Case, n: int = 30) -> DataFrame:
    return _df(spark, case, [case.row(i) for i in range(n)])


def _write(spark, case: Case, rows: DataFrame, table: str, path: str) -> int:
    return write_band_index(
        spark, rows, table, case.family, case.dim, path=path, buckets=4
    )


def _candidates(spark, case: Case, batch: DataFrame, table: str) -> DataFrame:
    return band_index_candidates(spark, batch, table, case.family, case.dim)


def _cleanup(spark, table):
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def check_idempotent_and_incremental(spark, case: Case, table: str):
    d = tempfile.mkdtemp()
    _cleanup(spark, table)
    corpus = _corpus(spark, case)
    try:
        assert _write(spark, case, corpus, table, f"{d}/t") == 30
        # re-run: nothing new (MERGE analog — a crashed build re-submits as-is)
        assert _write(spark, case, corpus, table, f"{d}/t") == 0
        assert spark.table(table).count() == 30 * case.rows_per_id
        # a later drop indexes only its new ids
        more = corpus.unionByName(_df(spark, case, [case.row(100)]))
        assert _write(spark, case, more, table, f"{d}/t") == 1
        assert spark.table(table).count() == 31 * case.rows_per_id
    finally:
        _cleanup(spark, table)


def check_candidates_match_fresh_join(spark, case: Case, table: str):
    d = tempfile.mkdtemp()
    _cleanup(spark, table)
    corpus = _corpus(spark, case)
    # batch: near-twins of corpus rows 0-4 + one novel row
    batch = _df(spark, case, [case.twin(1000 + i, i) for i in range(5)] + [case.novel])
    id_col, keys = case.family.id_col, list(case.family.key_cols)
    try:
        _write(spark, case, corpus, table, f"{d}/t")
        got = {
            (r.batch_id, r.corpus_id)
            for r in _candidates(spark, case, batch, table).collect()
        }
        expected = {
            (r.batch_id, r.corpus_id)
            for r in case.fresh_bands(batch)
            .withColumnRenamed(id_col, "batch_id")
            .join(
                case.fresh_bands(corpus).withColumnRenamed(id_col, "corpus_id"), keys
            )
            .select("batch_id", "corpus_id")
            .distinct()
            .collect()
        }
        assert got == expected
        assert {(1000 + i, i) for i in range(5)} <= got  # every twin finds its original
        assert all(b != 2000 for b, _ in got)  # the novel row has no candidates
    finally:
        _cleanup(spark, table)


def check_join_shuffles_batch_only(spark, case: Case, table: str):
    """The index side must scan bucketed (no Exchange); joining the
    same data as plain parquet costs exactly one more Exchange."""
    d = tempfile.mkdtemp()
    _cleanup(spark, table)
    corpus = _corpus(spark, case)
    batch = _df(spark, case, [(1000, case.row(0)[1])])
    try:
        _write(spark, case, corpus, table, f"{d}/t")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            bucketed_plan = (
                _candidates(spark, case, batch, table)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            plain_plan = (
                band_candidates(
                    case.fresh_bands(batch), spark.read.parquet(f"{d}/t"), case.family
                )
                .distinct()
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "Bucketed: true" in bucketed_plan
        assert (
            bucketed_plan.count("Exchange") == plain_plan.count("Exchange") - 1
        ), (bucketed_plan, plain_plan)
    finally:
        _cleanup(spark, table)


def check_retried_batch_emits_no_self_pairs(spark, case: Case, table: str):
    """A crashed-then-retried ingest looks itself up in the index it
    already wrote: its own stored rows must not surface as (X, X)
    duplicates (a keep-list consumer would drop every retried doc)."""
    d = tempfile.mkdtemp()
    _cleanup(spark, table)
    corpus = _corpus(spark, case)
    try:
        _write(spark, case, corpus, table, f"{d}/t")
        cand = _candidates(spark, case, corpus, table)
        assert cand.filter(F.col("batch_id") == F.col("corpus_id")).count() == 0
    finally:
        _cleanup(spark, table)


def check_empty_first_build_creates_table(spark, case: Case, table: str):
    """An empty input still creates the (empty) table so the CLI
    report and candidate lookups don't crash on a fresh catalog."""
    d = tempfile.mkdtemp()
    _cleanup(spark, table)
    try:
        assert _write(spark, case, _df(spark, case, []), table, f"{d}/t") == 0
        assert spark.table(table).count() == 0
        batch = _corpus(spark, case, 3)
        assert _candidates(spark, case, batch, table).count() == 0
    finally:
        _cleanup(spark, table)


def check_build_dedup_index_job_cli(spark, case: Case, table: str, tmp_path):
    import io as _io
    from contextlib import redirect_stdout

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import build_dedup_index

    _cleanup(spark, table)
    in_path = str(tmp_path / "in")
    _corpus(spark, case).write.parquet(in_path)
    argv = case.cli_args(in_path) + [
        "--table", table,
        "--path", str(tmp_path / "idx"),
        "--buckets", "4",
    ]
    try:
        buf = _io.StringIO()
        with redirect_stdout(buf):
            assert build_dedup_index.main(argv) == 0
        report = json.loads(buf.getvalue().strip().splitlines()[-1])
        assert report["family"] == case.name
        assert report["docs_indexed"] == 30
        assert report["band_rows"] == 30 * case.rows_per_id
        assert report["max_lsh_bucket"] >= 1
        assert report["lsh_buckets_over_cap"] == 0
        # idempotent re-run
        buf2 = _io.StringIO()
        with redirect_stdout(buf2):
            assert build_dedup_index.main(argv) == 0
        report2 = json.loads(buf2.getvalue().strip().splitlines()[-1])
        assert report2["docs_indexed"] == 0
        assert report2["band_rows"] == 30 * case.rows_per_id
    finally:
        _cleanup(spark, table)


def test_band_index_idempotent_and_incremental(spark):
    check_idempotent_and_incremental(spark, TEXT, "band_index_test1")


def test_band_index_candidates_match_fresh_join(spark):
    check_candidates_match_fresh_join(spark, TEXT, "band_index_test2")


def test_band_index_join_shuffles_batch_only(spark):
    check_join_shuffles_batch_only(spark, TEXT, "band_index_test3")


def test_build_dedup_index_job_cli(spark, tmp_path):
    check_build_dedup_index_job_cli(spark, TEXT, "band_index_test_cli", tmp_path)


def test_retried_batch_emits_no_self_pairs(spark):
    check_retried_batch_emits_no_self_pairs(spark, TEXT, "band_index_retry")


def test_empty_first_build_creates_table(spark):
    check_empty_first_build_creates_table(spark, TEXT, "band_index_empty")
