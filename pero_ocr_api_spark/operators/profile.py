"""Table profiling: per-column data-quality stats in ONE scan.

The standard pre-ingest pass a training-data pipeline runs before
committing a crawl drop into the corpus (null rates, cardinalities,
value ranges, payload sizes) — the reference's analog is the ad-hoc
``SELECT count(*)`` monitoring its DB layer does per table
(app/db/model.py session queries); here it is one distributed
aggregate over arbitrarily many columns.

Scale shape: all metrics are a single ``df.agg(...)`` — one scan,
map-side partial aggregation, a 1-row result. The one scale hazard is
exact ``count(distinct c)`` over k columns: Catalyst rewrites
multi-distinct into an Expand (k+1 rows emitted per input row) feeding
one shuffle — linear but with a k× constant. The counts are exact,
because exact is what the DuckDB oracle can reproduce bit-for-bit;
``approx_count_distinct`` (HyperLogLog++, no Expand) is the spelling
to switch to if that constant ever dominates.

Cross-engine parity notes (see tests/test_queries_parity.py):

* min/max are taken over ``cast(col as string)`` in BOTH engines —
  UTF-8 bytewise comparison is identical (Spark UTF8String memcmp,
  DuckDB varchar memcmp), and integer→string renders identically;
  comparing native doubles' *string forms* cross-engine would not,
  so callers profile numeric columns as ints/strings only.
* lengths are character counts in both (`length`).
* sums are CAST to BIGINT (DuckDB sum(int) is HUGEINT).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PROFILE_FIELDS = ("n_null", "n_distinct", "min_str", "max_str", "sum_len")


def _metrics(c: str) -> list[Column]:
    s = F.col(c).cast("string")
    return [
        F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
        .cast("long")
        .alias(f"{c}__n_null"),
        F.count_distinct(F.col(c)).cast("long").alias(f"{c}__n_distinct"),
        F.min(s).alias(f"{c}__min_str"),
        F.max(s).alias(f"{c}__max_str"),
        F.sum(F.length(s)).cast("long").alias(f"{c}__sum_len"),
    ]


def profile_table(df: DataFrame, cols: list[str]) -> DataFrame:
    """Long-format profile: one row per column with
    (col_name, n_rows, n_null, n_distinct, min_str, max_str, sum_len).

    One scan regardless of len(cols); the wide 1-row aggregate is
    pivoted to long form driver-free (a literal array of structs over
    the agg row, exploded — no shuffle after the agg)."""
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in cols:
        aggs.extend(_metrics(c))
    row = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                *[
                    F.col(f"{c}__{m}").alias(m)
                    for m in PROFILE_FIELDS
                ],
            )
            for c in cols
        ]
    )
    return row.select(
        "n_rows", F.explode(entries).alias("m")
    ).select(
        "m.col_name",
        "n_rows",
        *[F.col(f"m.{m}").alias(m) for m in PROFILE_FIELDS],
    )


def duckdb_profile_sql(table: str, cols: list[str]) -> str:
    """DuckDB twin of :func:`profile_table`: the same
    one-scan wide aggregate in a CTE, unpivoted by a UNION ALL of
    per-column projections."""
    aggs = ["CAST(count(*) AS BIGINT) AS n_rows"]
    for c in cols:
        s = f"CAST({c} AS VARCHAR)"
        aggs.extend(
            [
                f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
                f" AS {c}__n_null",
                f"CAST(count(DISTINCT {c}) AS BIGINT) AS {c}__n_distinct",
                f"min({s}) AS {c}__min_str",
                f"max({s}) AS {c}__max_str",
                f"CAST(sum(length({s})) AS BIGINT) AS {c}__sum_len",
            ]
        )
    arms = [
        f"SELECT '{c}' AS col_name, n_rows, {c}__n_null AS n_null, "
        f"{c}__n_distinct AS n_distinct, {c}__min_str AS min_str, "
        f"{c}__max_str AS max_str, {c}__sum_len AS sum_len FROM agg"
        for c in cols
    ]
    return (
        f"WITH agg AS (SELECT {', '.join(aggs)} FROM {table})\n"
        + "\nUNION ALL\n".join(arms)
    )
