"""Connected components over candidate-pair graphs
(operators/dedup.py:connected_components): transitive closure of
near-dup pair lists — paths, merged stars, cliques, singleton pairs —
with the component id = min node id, deterministic across
partitionings.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pero_ocr_api_spark.operators import dedup


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "id1 long, id2 long")
    rows = dedup.connected_components(df).collect()
    return {r.node: r.component for r in rows}


def test_paths_triangles_and_pairs(spark):
    # path 1-2-3-4-5, triangle 10-11-12, isolated pair 20-21
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)]
    got = _cc(spark, edges)
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_two_stars_merged_by_bridge(spark):
    # LSH emits stars around two different reps; one bridge pair joins
    # them — only the transitive closure assigns one keep-rep.
    star_a = [(100, i) for i in range(101, 106)]
    star_b = [(200, i) for i in range(201, 206)]
    bridge = [(105, 201)]
    got = _cc(spark, star_a + star_b + bridge)
    assert set(got.values()) == {100}
    assert len(got) == 12


def test_long_path_converges_within_log_rounds(spark):
    # diameter 63: naive min-propagation needs 63 rounds; pointer
    # jumping must close it within CC_MAX_ROUNDS = 25 (O(log d)).
    edges = [(i, i + 1) for i in range(64)]
    got = _cc(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == 65


def test_partitioning_invariance(spark):
    edges = [(i, i + 1) for i in range(20) if i % 5 != 4] + [(3, 18)]
    df1 = spark.createDataFrame(edges, "id1 long, id2 long").repartition(1)
    df7 = spark.createDataFrame(edges, "id1 long, id2 long").repartition(7)
    r1 = {r.node: r.component for r in dedup.connected_components(df1).collect()}
    r7 = {r.node: r.component for r in dedup.connected_components(df7).collect()}
    assert r1 == r7
    # the cross edge merges the 0- and 15- blocks
    assert r1[18] == 0 and r1[15] == 0 and r1[5] == 5


def test_oracle_twin_matches(spark):
    import duckdb

    edges = [(1, 2), (2, 3), (7, 8), (3, 9), (9, 12), (30, 31)]
    got = _cc(spark, edges)
    sql = f"""
WITH RECURSIVE edges(id1, id2) AS (
  SELECT * FROM (VALUES {",".join(f"({a},{b})" for a, b in edges)})
),
{dedup.duckdb_components_sql()}
SELECT node, component FROM components
"""
    exp = {int(n): int(c) for n, c in duckdb.connect().execute(sql).fetchall()}
    assert got == exp
