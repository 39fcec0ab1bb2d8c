"""Unit tests: table-profile operator scale shapes + PII scrubbing."""

from __future__ import annotations

from pyspark.sql import functions as F

from pero_ocr_api_spark.functions import pii
from pero_ocr_api_spark.operators.profile import profile_table


def _toy(spark):
    return spark.createDataFrame(
        [(1, "aa", None), (2, "b", "x"), (3, None, "x"), (4, "aa", "y")],
        "id long, s string, t string",
    )


def test_profile_exact_values(spark):
    rows = {
        r.col_name: r
        for r in profile_table(_toy(spark), ["id", "s", "t"]).collect()
    }
    assert rows["id"].n_rows == 4
    assert rows["id"].n_null == 0 and rows["id"].n_distinct == 4
    assert rows["id"].min_str == "1" and rows["id"].max_str == "4"
    assert rows["s"].n_null == 1 and rows["s"].n_distinct == 2
    assert rows["s"].sum_len == 5  # aa + b + aa
    assert rows["t"].n_null == 1 and rows["t"].n_distinct == 2


def test_pii_redaction_tokens(spark):
    df = spark.createDataFrame(
        [
            ("mail me at a.b-c+1@sub.example.org today",),
            ("call +1-202-555-0144 or +1-999-555-0000",),
            ("no pii here, just text@ and +1-12",),
        ],
        "s string",
    )
    got = df.select(
        pii.redact_pii_col(F.col("s")).alias("r"),
        pii.email_count_col(F.col("s")).alias("ne"),
        pii.phone_count_col(F.col("s")).alias("np"),
    ).collect()
    assert got[0].r == "mail me at <EMAIL> today"
    assert (got[0].ne, got[0].np) == (1, 0)
    assert got[1].r == "call <PHONE> or <PHONE>"
    assert (got[1].ne, got[1].np) == (0, 2)
    assert got[2].r == "no pii here, just text@ and +1-12"
    assert (got[2].ne, got[2].np) == (0, 0)
