"""The spark-submit job entry point + idempotent writer + packaging."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import zipfile

import pytest

from pyspark.sql import functions as F

from pero_ocr_api_spark.plans.extract import run_extract
from pero_ocr_api_spark.plans.io import write_extracted


def test_write_extracted_idempotent(spark, docs_df, media_df):
    out = tempfile.mkdtemp() + "/extracted"
    first, _ = run_extract(spark, docs_df.limit(15), media_df, run_id="a")
    n1 = write_extracted(spark, first, out)
    assert n1 == 15
    # same rows again → zero written, no duplicates
    assert write_extracted(spark, first, out) == 0
    full, _ = run_extract(spark, docs_df, media_df, run_id="b")
    n2 = write_extracted(spark, full, out)
    back = spark.read.parquet(out)
    assert back.count() == docs_df.count() == 15 + n2
    assert back.select("doc_id").distinct().count() == back.count()


def test_write_extracted_all_written_batch_returns_zero(spark, docs_df, media_df):
    """A batch whose docs are all in the table already adds nothing:
    the count observed on the write is 0, and the table keeps its rows
    and its distinct doc_ids."""
    from pero_ocr_api_spark.plans.extract import release_run

    out = tempfile.mkdtemp() + "/extracted"
    rows, _ = run_extract(spark, docs_df.limit(10), media_df, run_id="zero")
    assert write_extracted(spark, rows, out) == 10
    assert write_extracted(spark, rows, out) == 0
    back = spark.read.parquet(out)
    assert back.count() == 10
    assert back.select("doc_id").distinct().count() == 10
    release_run("zero")


def test_write_extracted_count_is_rows_added(spark, docs_df, media_df):
    """The returned count equals the rows the write added on read-back,
    also when part of the batch was already written."""
    from pero_ocr_api_spark.plans.extract import release_run

    out = tempfile.mkdtemp() + "/extracted"
    first, _ = run_extract(spark, docs_df.limit(25), media_df, run_id="cnt_a")
    write_extracted(spark, first, out)
    before = spark.read.parquet(out).count()
    full, _ = run_extract(spark, docs_df, media_df, run_id="cnt_b")
    n = write_extracted(spark, full, out)
    assert 0 < n == spark.read.parquet(out).count() - before
    release_run("cnt_a")
    release_run("cnt_b")


def test_write_extracted_dedupes_source_batch(spark, docs_df, media_df):
    """A retried upstream stage can hand the writer two copies of a
    doc in ONE batch; the anti-join only guards against rows already
    in the target, so the writer must dedupe its source too."""
    out = tempfile.mkdtemp() + "/extracted"
    rows, _ = run_extract(spark, docs_df.limit(5), media_df, run_id="dup")
    doubled = rows.unionByName(rows)
    assert write_extracted(spark, doubled, out) == 5
    back = spark.read.parquet(out)
    assert back.count() == 5
    assert back.select("doc_id").distinct().count() == 5


def _has_iceberg(spark) -> bool:
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def test_write_extracted_iceberg_merge(spark, docs_df, media_df):
    """The Iceberg MERGE branch of write_extracted — runnable only
    when the Iceberg runtime is on the classpath, which this sandbox
    does not ship (see COVERAGE.md: the branch is UNTESTED here; the
    parquet anti-join path above carries the same contract and is
    what CI exercises)."""
    if not _has_iceberg(spark):
        pytest.skip("Iceberg runtime not on classpath (sandbox)")
    spark.sql(
        "CREATE TABLE IF NOT EXISTS local.db.extracted_t "
        "(doc_id STRING) USING iceberg"
    )
    rows, _ = run_extract(spark, docs_df.limit(5), media_df, run_id="ice")
    write_extracted(
        spark, rows.unionByName(rows), "local.db.extracted_t", "iceberg"
    )
    write_extracted(spark, rows, "local.db.extracted_t", "iceberg")
    back = spark.table("local.db.extracted_t")
    assert back.count() == 5
    assert back.select("doc_id").distinct().count() == 5


def test_media_cache_released(spark, docs_df, media_df):
    """Repeated run_extract calls must not accumulate cached
    partitions: release_run() frees each run's media-UDF cache, and
    re-using a run_id replaces (not stacks) the old cache."""
    from pero_ocr_api_spark.plans.extract import release_run

    jsc = spark.sparkContext._jsc

    def n_persisted():
        return jsc.getPersistentRDDs().size()

    # materialize the (cached) corpus fixtures first so their cache
    # registration doesn't move the baseline mid-test
    docs_df.count()
    media_df.count()
    base = n_persisted()
    for i in range(3):
        rows, lineage = run_extract(spark, docs_df, media_df, run_id=f"rel{i}")
        rows.count()
        lineage.count()
        release_run(f"rel{i}")
    assert n_persisted() == base
    # same run_id twice: old cache replaced, exactly one extra entry
    for _ in range(2):
        rows, _ = run_extract(spark, docs_df, media_df, run_id="rel_same")
        rows.count()
    assert n_persisted() == base + 1
    release_run("rel_same")
    assert n_persisted() == base


def test_job_cli_end_to_end(spark):
    """Drive jobs/extract_job.py in-process: synthetic corpus → output
    + lineage parquet; resumed rerun writes nothing new."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import extract_job

    d = tempfile.mkdtemp()
    rc = extract_job.main(
        [
            "--n-docs", "40", "--seed", "7",
            "--output", f"{d}/out", "--run-id", "t1",
        ]
    )
    assert rc == 0
    assert spark.read.parquet(f"{d}/out").count() == 40
    assert spark.read.parquet(f"{d}/out_lineage").count() >= 1
    # resume: everything already done
    rc = extract_job.main(
        [
            "--n-docs", "40", "--seed", "7",
            "--output", f"{d}/out", "--run-id", "t2", "--resume",
        ]
    )
    assert rc == 0
    assert spark.read.parquet(f"{d}/out").count() == 40  # no dups


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_extract_job_resume_writes_lineage_and_frees_caches(spark):
    """--resume over a half-written output: the lineage table records
    the resumed docs (it was written empty when the output write ran
    first and refreshed the media cache behind the resume anti-join),
    and the job leaves no persisted RDD behind."""
    import io as _io
    from contextlib import redirect_stdout

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import extract_job

    from pero_ocr_api_spark.corpus import generate_spark
    from pero_ocr_api_spark.plans.extract import release_run

    d = tempfile.mkdtemp()
    out = f"{d}/out"
    docs, media = generate_spark(spark, 60, seed=7)
    first = [r.doc_id for r in docs.select("doc_id").orderBy("doc_id").limit(30).collect()]
    half, _ = run_extract(
        spark, docs.filter(F.col("doc_id").isin(first)), media, run_id="half"
    )
    assert write_extracted(spark, half, out) == 30
    release_run("half")
    before = _persisted_ids(spark)
    with redirect_stdout(_io.StringIO()):
        rc = extract_job.main(
            ["--n-docs", "60", "--seed", "7", "--output", out,
             "--run-id", "resume_half", "--resume"]
        )
    assert rc == 0
    assert _persisted_ids(spark) <= before
    assert spark.read.parquet(out).count() == 60
    lineage = spark.read.parquet(f"{out}_lineage").collect()
    assert lineage and {r.run_id for r in lineage} == {"resume_half"}
    # per-partition distinct docs: a doc's media spans may land on
    # several partitions, so the sum is at least one per resumed doc
    assert sum(r.docs_in for r in lineage) > 0


def test_curate_job_failure_frees_its_caches(spark):
    """A curate run that raises (uncastable --corpus doc_id) must still
    free every stage cache: the suite runs its jobs in one JVM."""
    import shutil

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import curate_job

    from __spark_entry__ import SF_SMOKE
    from pero_ocr_api_spark.plans.io import write_band_index

    d = tempfile.mkdtemp()
    corpus_path = f"{SF_SMOKE}/documents.parquet"
    table = "curate_fail_text_idx"
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(os.path.join(warehouse, table), ignore_errors=True)
    corpus = spark.read.parquet(corpus_path)
    try:
        write_band_index(spark, corpus, table, buckets=4)
        corpus.select(F.col("doc_id").cast("string").alias("doc_id"), "text").unionByName(
            spark.createDataFrame([("not-a-number", "x")], "doc_id string, text string")
        ).write.parquet(f"{d}/corpus")
        before = _persisted_ids(spark)
        # try_cast lets the job's own guard name the problem
        with pytest.raises(ValueError, match="1 values that do not cast to long"):
            curate_job.main(
                ["--documents", corpus_path, "--output", f"{d}/kept",
                 "--no-sampling", "--band-index", table,
                 "--corpus", f"{d}/corpus"]
            )
        assert _persisted_ids(spark) <= before
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_pyfiles_zip_importable(tmp_path):
    res = subprocess.run(
        [sys.executable, "scripts/package_pyfiles.py", str(tmp_path)],
        capture_output=True, text=True,
        cwd=os.path.join(os.path.dirname(__file__), ".."),
    )
    assert res.returncode == 0, res.stderr
    zip_path = res.stdout.strip()
    with zipfile.ZipFile(zip_path) as zf:
        names = zf.namelist()
    assert "pero_ocr_api_spark/__init__.py" in names
    assert "pero_ocr_api_spark/ocr/kernel.py" in names
    # zip must be importable standalone (the executor-side contract)
    probe = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys; sys.path.insert(0, sys.argv[1]); "
            "from pero_ocr_api_spark.ocr import kernel; "
            "print(kernel.process_media(None, None, 'x').state)",
            zip_path,
        ],
        capture_output=True, text=True,
    )
    assert probe.returncode == 0, probe.stderr
    assert probe.stdout.strip() == "NOT_FOUND"


def test_curate_job_end_to_end(spark):
    """Curation funnel CLI: monotone per-stage counts, skew metrics
    surfaced, deterministic output across reruns."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import io as _io
    from contextlib import redirect_stdout

    import curate_job

    d = tempfile.mkdtemp()
    argv = [
        "--documents", "/root/testdata/sf0.001/documents.parquet",
        "--output", f"{d}/kept",
    ]
    buf = _io.StringIO()
    with redirect_stdout(buf):
        rc = curate_job.main(argv)
    assert rc == 0
    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    f = report["funnel"]
    assert (
        f["input"]
        >= f["after_quality_and_repetition"]
        >= f["after_exact_dedup"]
        >= f["after_near_dedup"]
        >= f["kept"]
    )
    assert f["input"] == 500 and f["kept"] > 0
    assert report["lsh_skew"]["cap"] == 64
    kept1 = {r.doc_id for r in spark.read.parquet(f"{d}/kept").collect()}
    with redirect_stdout(_io.StringIO()):
        assert curate_job.main(argv) == 0
    kept2 = {r.doc_id for r in spark.read.parquet(f"{d}/kept").collect()}
    assert kept1 == kept2  # hash-based sampling: no RNG state anywhere


def test_curate_gate_count_matches_duckdb(spark):
    """The job's quality + repetition gates agree with their DuckDB
    twins: the funnel's gate count equals the DuckDB count of docs
    passing both gates, built from the twin fragments of
    training_filter_pipeline and repetition_stats."""
    import io as _io
    from contextlib import redirect_stdout

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import curate_job

    from pero_ocr_api_spark.functions import text_stats as ts
    from pero_ocr_api_spark.operators import dedup
    from tests.parity import duck_connect

    sf = "/root/testdata/sf0.001"
    d = tempfile.mkdtemp()
    buf = _io.StringIO()
    with redirect_stdout(buf):
        assert curate_job.main(
            ["--documents", f"{sf}/documents.parquet", "--output", f"{d}/kept",
             "--no-sampling"]
        ) == 0
    gated = json.loads(buf.getvalue().strip().splitlines()[-1])["funnel"][
        "after_quality_and_repetition"
    ]
    sql = f"""
SELECT count(*) FROM (
  SELECT {ts.duckdb_lang_guess_sql('text')} = lang AS lang_ok,
         {ts.duckdb_quality_score_sql('text')} >= {ts.QUALITY_MIN} AS quality_ok,
         {ts.duckdb_token_count_sql('text')}
           BETWEEN {ts.TOKENS_MIN} AND {ts.TOKENS_MAX} AS len_ok,
         {dedup.duckdb_repetition_sizes_sql('text')}
  FROM documents
)
WHERE lang_ok AND quality_ok AND len_ok
  AND NOT ({dedup.REP_TOKEN_DEN} * (n_tok - nd_tok) > {dedup.REP_TOKEN_NUM} * n_tok)
  AND NOT ({dedup.REP_GRAM_DEN} * (n_g - nd_g) > {dedup.REP_GRAM_NUM} * n_g
           AND n_g > 0)
"""
    expected = duck_connect(sf).execute(sql).fetchone()[0]
    assert 0 < gated == expected


def test_curate_job_embedding_stage(spark):
    """--embeddings enables the 5th dedup family end-to-end: a
    constructed scaled-twin (cosine 1.0 with its original, no shared
    n-grams required) must be dropped by the ANN self-join stage, the
    funnel gains after_embedding_dedup, and the report carries the
    embedding LSH skew block."""
    import io as _io
    from contextlib import redirect_stdout

    import numpy as np

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import curate_job

    d = tempfile.mkdtemp()
    base_argv = [
        "--documents", "/root/testdata/sf0.001/documents.parquet",
        "--output", f"{d}/kept", "--no-sampling",
    ]
    # pass 1 (no embeddings): learn which ids survive the text funnel
    with redirect_stdout(_io.StringIO()):
        assert curate_job.main(base_argv) == 0
    survivors = sorted(
        r.doc_id for r in spark.read.parquet(f"{d}/kept").collect()
    )
    assert len(survivors) >= 2
    id_a, id_b = survivors[0], survivors[-1]

    # synthetic embeddings: unique random directions (pairwise cosine
    # far from 1) except id_b = scaled copy of id_a's vector
    rng = np.random.default_rng(7)
    vecs = {i: rng.normal(size=64).astype("float64") for i in range(500)}
    vecs[id_b] = vecs[id_a] * 1.1
    rows = [
        (int(i), [float(x) for x in vecs[i]]) for i in sorted(vecs)
    ]
    emb_df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    emb_df.write.mode("overwrite").parquet(f"{d}/emb")

    argv = base_argv + ["--embeddings", f"{d}/emb",
                        "--output-rows", f"{d}/kept_rows"]
    buf = _io.StringIO()
    with redirect_stdout(buf):
        assert curate_job.main(argv) == 0
    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    f = report["funnel"]
    assert f["after_embedding_dedup"] <= f["after_near_dedup"]
    assert f["kept"] == f["after_embedding_dedup"]  # --no-sampling
    assert report["embedding_skew"]["cap"] == 64
    kept = {r.doc_id for r in spark.read.parquet(f"{d}/kept").collect()}
    assert id_a in kept and id_b not in kept  # keep-min-id connectivity
    # Iceberg-shaped handoff: kept rows, same count, full row payload
    rows_back = spark.read.parquet(f"{d}/kept_rows")
    assert rows_back.count() == len(kept)
    assert {"doc_id", "text", "lang"} <= set(rows_back.columns)


def test_curate_job_closure_stage(spark):
    """--closure replaces the pairwise drop with a transitive closure
    over the unioned pair families. Constructed chain: survivors
    a < b < c with cos(a,c) and cos(b,c) above the threshold but
    cos(a,b) below it — the ANN stage emits pairs (a,c) and (b,c)
    only. The pairwise default drops c but keeps BOTH a and b; the
    closure groups {a,b,c} into one component and keeps only a."""
    import io as _io
    from contextlib import redirect_stdout

    import numpy as np

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import curate_job

    d = tempfile.mkdtemp()
    base_argv = [
        "--documents", "/root/testdata/sf0.001/documents.parquet",
        "--output", f"{d}/kept", "--no-sampling",
    ]
    with redirect_stdout(_io.StringIO()):
        assert curate_job.main(base_argv) == 0
    survivors = sorted(
        r.doc_id for r in spark.read.parquet(f"{d}/kept").collect()
    )
    assert len(survivors) >= 3
    id_a, id_b, id_c = survivors[0], survivors[1], survivors[2]

    # chain geometry: angle(a,c) = angle(b,c) = θ, angle(a,b) = 2θ
    # with cos θ ≈ 0.9995 ≥ 0.999 > cos 2θ ≈ 0.998
    rng = np.random.default_rng(11)
    vecs = {i: rng.normal(size=64).astype("float64") for i in range(500)}
    u = vecs[id_a] / np.linalg.norm(vecs[id_a])
    w = rng.normal(size=64)
    w -= (w @ u) * u
    w /= np.linalg.norm(w)
    theta = np.arccos(0.9995)
    vecs[id_c] = np.cos(theta) * u + np.sin(theta) * w
    vecs[id_b] = np.cos(2 * theta) * u + np.sin(2 * theta) * w
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in sorted(vecs)]
    emb_df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    emb_df.write.mode("overwrite").parquet(f"{d}/emb")

    # pairwise default: c dropped, a AND b both kept (the under-dedup)
    with redirect_stdout(_io.StringIO()):
        assert curate_job.main(base_argv + ["--embeddings", f"{d}/emb"]) == 0
    kept_pairwise = {r.doc_id for r in spark.read.parquet(f"{d}/kept").collect()}
    assert id_a in kept_pairwise and id_b in kept_pairwise
    assert id_c not in kept_pairwise

    # closure: {a,b,c} one component, only a survives
    buf = _io.StringIO()
    with redirect_stdout(buf):
        assert curate_job.main(
            base_argv + ["--embeddings", f"{d}/emb", "--closure"]
        ) == 0
    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    kept_closure = {r.doc_id for r in spark.read.parquet(f"{d}/kept").collect()}
    assert id_a in kept_closure
    assert id_b not in kept_closure and id_c not in kept_closure
    assert report["funnel"]["closure"]["n_dup_components"] >= 1
    assert report["funnel"]["closure"]["families"] == 2
    assert kept_closure < kept_pairwise  # strictly stronger dedup


def test_curate_job_lm_filter_stage(spark):
    """--lm-tail-pct adds the CCNet-style perplexity gate: the funnel
    gains after_lm_filter (monotone between the quality gate and exact
    dedup), the report carries the sketch cutoff, and roughly the
    requested tail is removed."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import io as _io
    from contextlib import redirect_stdout

    import curate_job

    d = tempfile.mkdtemp()
    argv = [
        "--documents", "/root/testdata/sf0.001/documents.parquet",
        "--output", f"{d}/kept",
        "--lm-tail-pct", "20",
        "--no-sampling",
    ]
    buf = _io.StringIO()
    with redirect_stdout(buf):
        assert curate_job.main(argv) == 0
    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    f = report["funnel"]
    assert (
        f["after_quality_and_repetition"]
        >= f["after_lm_filter"]
        >= f["after_exact_dedup"]
    )
    # ~20% of scored survivors removed (sketch cutoff: allow slack)
    removed = f["after_quality_and_repetition"] - f["after_lm_filter"]
    assert 0 < removed <= 0.35 * f["after_quality_and_repetition"]
    assert report["lm_filter"]["tail_pct"] == 20
    assert report["lm_filter"]["cutoff_avg_lp"] < 0  # a log-probability


def test_pack_job_end_to_end(spark):
    """Tokenize-and-pack CLI: every block except the last holds exactly
    seq_len tokens, totals reconcile, ids stay within vocab bounds,
    and a rerun is byte-identical (full determinism)."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import io as _io
    from contextlib import redirect_stdout

    import pack_job

    d = tempfile.mkdtemp()
    argv = [
        "--documents", "/root/testdata/sf0.001/documents.parquet",
        "--output", f"{d}/packed",
        "--seq-len", "128",
        "--vocab-k", "16",  # smaller than the corpus vocabulary -> UNKs exist
    ]
    buf = _io.StringIO()
    with redirect_stdout(buf):
        assert pack_job.main(argv) == 0
    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    blocks = spark.read.parquet(f"{d}/packed")
    rows = blocks.orderBy("block_id").collect()
    assert report["n_blocks"] == len(rows)
    total = sum(r["n_tokens"] for r in rows)
    assert total == report["n_tokens"]
    # exact-fill invariant
    for r in rows[:-1]:
        assert r["n_tokens"] == 128 and len(r["token_ids"]) == 128
    assert 0 < rows[-1]["n_tokens"] <= 128
    # ids within [0, vocab_k]
    assert all(0 <= t <= 16 for r in rows for t in r["token_ids"])
    assert 0 < report["unk_rate_pct"] < 100
    # determinism: rerun produces the identical block stream
    first = [(r["block_id"], r["token_ids"]) for r in rows]
    with redirect_stdout(_io.StringIO()):
        assert pack_job.main(argv) == 0
    again = [
        (r["block_id"], r["token_ids"])
        for r in spark.read.parquet(f"{d}/packed").orderBy("block_id").collect()
    ]
    assert first == again


def test_pack_job_kept_filter(spark):
    """--kept restricts packing to the curated id list: fewer docs,
    fewer tokens, and the report reflects the filtered input."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import io as _io
    from contextlib import redirect_stdout

    import pack_job

    d = tempfile.mkdtemp()
    kept = spark.range(0, 100).select(F.col("id").alias("doc_id"))
    kept.write.parquet(f"{d}/kept")
    argv = [
        "--documents", "/root/testdata/sf0.001/documents.parquet",
        "--kept", f"{d}/kept",
        "--output", f"{d}/packed",
        "--seq-len", "128",
        "--vocab-k", "64",
    ]
    buf = _io.StringIO()
    with redirect_stdout(buf):
        assert pack_job.main(argv) == 0
    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert report["input_docs"] == 100  # 500-doc corpus filtered to ids < 100
    blocks = spark.read.parquet(f"{d}/packed")
    assert report["n_tokens"] == blocks.agg(F.sum("n_tokens")).first()[0]


def test_curate_job_incremental_index_stages(spark):
    """--band-index / --embedding-index: the daily-ingest shape — the
    historical corpus is hashed ONCE (build_dedup_index tables), the
    batch is deduped against it with candidates-only verification.
    Constructed batch: a text near-twin of a corpus doc (dropped by
    the band index), a doc whose EMBEDDING twins a corpus vector but
    whose text is novel (dropped by the embedding index), and a fully
    novel doc (kept)."""
    import io as _io
    from contextlib import redirect_stdout

    import numpy as np

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import curate_job

    from pero_ocr_api_spark.plans.io import EMBEDDING_BANDS, write_band_index

    d = tempfile.mkdtemp()
    corpus_path = "/root/testdata/sf0.001/documents.parquet"
    t_text, t_emb = "curate_incr_text_idx", "curate_incr_emb_idx"
    # Hermeticity: a previous session interrupted mid-saveAsTable leaves
    # the managed-table *directory* behind while a fresh session's
    # catalog has no entry for it — DROP TABLE IF EXISTS is then a
    # no-op and write_band_index dies with LOCATION_ALREADY_EXISTS
    # (self-perpetuating: every failed run re-creates the orphan).
    # Purge both catalog entry AND warehouse location up front.
    import shutil

    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    for t in (t_text, t_emb):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    try:
        # learn three docs that survive the text funnel (their texts
        # pass the quality gates, so mutations of them will too)
        with redirect_stdout(_io.StringIO()):
            assert curate_job.main(
                ["--documents", corpus_path, "--output", f"{d}/k0",
                 "--no-sampling"]
            ) == 0
        surv = sorted(r.doc_id for r in spark.read.parquet(f"{d}/k0").collect())
        a, b, c = surv[0], surv[len(surv) // 2], surv[-1]
        corpus = spark.read.parquet(corpus_path)
        rows = {
            r["doc_id"]: r
            for r in corpus.filter(F.col("doc_id").isin([a, b, c])).collect()
        }

        def reversed_text(t):
            return " ".join(reversed(t.split()))

        batch_rows = [
            # 10001: text near-twin of corpus doc a -> band-index drop
            (10001, rows[a]["text"] + " extra suffix", rows[a]["lang"],
             rows[a]["source"]),
            # 10002: novel text (reversed words keep lang/quality stats)
            # but embedding twins corpus doc a -> embedding-index drop
            (10002, reversed_text(rows[b]["text"]), rows[b]["lang"],
             rows[b]["source"]),
            # 10003: novel text + own embedding -> kept
            (10003, reversed_text(rows[c]["text"]), rows[c]["lang"],
             rows[c]["source"]),
        ]
        spark.createDataFrame(
            batch_rows, "doc_id long, text string, lang string, source string"
        ).write.parquet(f"{d}/batch")

        # historical indexes: corpus hashed once
        write_band_index(spark, corpus, t_text, buckets=4)
        rng = np.random.default_rng(11)
        c_vecs = {
            int(r["doc_id"]): rng.normal(size=16).astype("float64")
            for r in corpus.select("doc_id").collect()
        }
        c_emb = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in sorted(c_vecs.items())],
            "vec_id long, embedding array<float>",
        )
        c_emb.write.mode("overwrite").parquet(f"{d}/c_emb")
        write_band_index(spark, c_emb, t_emb, EMBEDDING_BANDS, dim=16, buckets=4)

        # batch embeddings: 10002 twins corpus doc a; others are novel
        b_vecs = {
            10001: rng.normal(size=16),
            10002: c_vecs[a] * 1.1,
            10003: rng.normal(size=16),
        }
        spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in sorted(b_vecs.items())],
            "vec_id long, embedding array<float>",
        ).write.parquet(f"{d}/b_emb")

        argv = [
            "--documents", f"{d}/batch",
            "--output", f"{d}/kept",
            "--no-sampling",
            "--band-index", t_text, "--corpus", corpus_path,
            "--embedding-index", t_emb,
            "--embeddings", f"{d}/b_emb",
            "--corpus-embeddings", f"{d}/c_emb",
        ]
        buf = _io.StringIO()
        with redirect_stdout(buf):
            assert curate_job.main(argv) == 0
        report = json.loads(buf.getvalue().strip().splitlines()[-1])
        f = report["funnel"]
        assert f["incremental_text"]["candidates"] >= 1
        assert f["incremental_embedding"]["candidates"] >= 1
        kept = {r.doc_id for r in spark.read.parquet(f"{d}/kept").collect()}
        assert 10001 not in kept  # text twin of the corpus
        assert 10002 not in kept  # embedding twin of the corpus
        assert 10003 in kept      # genuinely novel
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_text}")
        spark.sql(f"DROP TABLE IF EXISTS {t_emb}")
