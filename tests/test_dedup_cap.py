"""LSH bucket skew guard: oversized buckets collapse to a star around
the min-id representative (linear), small buckets keep exact clique
semantics (operators/dedup.py:lsh_candidate_pairs)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pero_ocr_api_spark.operators import dedup


def _bands(spark, n_identical=100):
    data = [(i, "the exact same boilerplate text body here") for i in range(n_identical)]
    data += [
        (1000, "alpha beta gamma delta epsilon zeta eta theta"),
        (1001, "alpha beta gamma delta epsilon zeta eta iota"),
    ]
    df = spark.createDataFrame(data, "doc_id long, text string")
    return dedup.lsh_bands_df(dedup.minhash_signatures(df))


def test_mega_bucket_collapses_to_star(spark):
    bands = _bands(spark).cache()
    pairs = dedup.lsh_candidate_pairs(bands).collect()
    star = sorted((p.id1, p.id2) for p in pairs if p.id2 < 1000)
    # 100 identical docs (> MAX_BUCKET): 99 star rows around doc 0, not
    # 4950 clique rows
    assert star == [(0, i) for i in range(1, 100)]


def test_small_buckets_keep_clique(spark):
    bands = _bands(spark).cache()
    sizes = dedup.lsh_bucket_sizes(bands)
    # near-identical pair 1000/1001: if any band buckets them together
    # (small bucket), the capped join must still emit the exact pair
    shared = sizes.filter(F.col("bucket_n") == 2).count()
    pairs = {
        (p.id1, p.id2)
        for p in dedup.lsh_candidate_pairs(bands).collect()
    }
    if shared:
        assert (1000, 1001) in pairs


def test_spread_leaves_non_file_plans_alone(spark):
    """A join/aggregate output (zero inputFiles) already carries its
    upstream shuffle's partitioning — spread must be a no-op, not a
    gratuitous corpus re-shuffle (review finding)."""
    a = spark.createDataFrame([(i, f"t{i}") for i in range(50)], "doc_id long, text string")
    agg = a.groupBy("doc_id").agg(F.first("text").alias("text"))
    assert dedup.spread_to_parallelism(agg) is agg


def test_spread_treats_nonpositive_maxpartitionbytes_as_unparseable(
    spark, tmp_path
):
    """mpb=0 must fall through to the conservative spread (review
    finding: max(mpb,1)=1 made est_splits equal total bytes, always
    suppressing the spread instead of treating the conf as junk)."""
    p = str(tmp_path / "one_file_zero_mpb")
    spark.createDataFrame(
        [(i, "x" * 100) for i in range(50)], "doc_id long, text string"
    ).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "0")
        out = dedup.spread_to_parallelism(df)
        # spread kept, not suppressed (execution itself would reject a
        # zero conf, so only the plan decision is observable here)
        assert out is not df
    finally:
        spark.conf.set(key, old)
    assert out.count() == 50


def test_spread_survives_any_maxpartitionbytes_unit(spark, tmp_path):
    """Spark-legal byte-suffix conf values (t/tb/p) must not crash the
    size probe (review finding: int('1t') escaped the handler)."""
    p = str(tmp_path / "one_file")
    spark.createDataFrame([(1, "x")], "doc_id long, text string").coalesce(
        1
    ).write.parquet(p)
    df = spark.read.parquet(p)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        for val in ("1t", "2tb", "1p", "128m", "134217728b"):
            spark.conf.set(key, val)
            out = dedup.spread_to_parallelism(df)
            assert out.count() == 1
    finally:
        spark.conf.set(key, old)
