"""Explicit table schemas and readers.

The reference keeps its data model in SQLAlchemy declarative tables
(``app/db/model.py``) plus a filesystem blob store; here every dataset
is a columnar table with a declared ``StructType`` (never inferred).

Production target is Iceberg (``writeTo(...).append()`` / ``MERGE``);
the sandbox uses plain Parquet paths. Both go through the same helpers
so the plan code is storage-agnostic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# --- interleaved input table (BASELINE.json input_hint) -------------------
# One row per document; spans carry reading order in `offset`.
SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),  # text | html | media
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), False),
    ]
)

# --- media blob table (replaces UPLOAD_IMAGES_FOLDER blob store;
# reference config-example.py:5-7, routes.py:121-124) ----------------------
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("media_kind", T.StringType(), False),  # image/png
        T.StructField("media_bytes", T.BinaryType(), True),
        # ground truth for tests only; the engine never reads it
        T.StructField("truth_text", T.StringType(), True),
    ]
)

# --- output table (reference: per-page ALTO/PAGE/txt zip members,
# routes.py:277-289 — replaced by columnar sink) ---------------------------
EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), False),
        T.StructField("score", T.DoubleType(), True),
        # PROCESSED | NOT_FOUND | INVALID_FILE | PROCESSING_FAILED —
        # the batch-reachable subset of PageState (model.py:13-22)
        T.StructField("state", T.StringType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("alto_xml", T.StringType(), True),
        T.StructField("page_xml", T.StringType(), True),
        T.StructField("txt", T.StringType(), True),
    ]
)

# --- per-partition lineage/metrics (north_rule requirement) ---------------
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("docs_in", T.LongType(), False),
        T.StructField("docs_out", T.LongType(), False),
        T.StructField("span_hash", T.StringType(), False),
        T.StructField("wall_ms", T.LongType(), False),
    ]
)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-provided parquet table.

    Plain ``spark.read.parquet`` so Catalyst keeps predicate pushdown +
    column pruning; at cluster scale the same call targets an Iceberg
    table identifier instead of a path.
    """
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: read_table(spark, sf_dir, t) for t in TESTDATA_TABLES}
