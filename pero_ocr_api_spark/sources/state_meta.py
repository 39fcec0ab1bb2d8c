"""state_meta fixture tables (FIXTURES.md §5) — the reference's
relational world (api_key / request / page / engine dims) as small
deterministic DataFrames, mirroring the DB seed block
(``app/db/model.py:138-242``: 2 engines, 3 versions, 2 models, 1 key,
2 requests x 2 pages, one page PROCESSED with score 86.7).

All timestamps are pinned relative to ``NOW`` (the reference uses
``datetime.utcnow()``; tests need reproducibility).
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

NOW = datetime(2026, 1, 1, 0, 0, 0)

API_KEY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("api_string", T.StringType(), False),
        T.StructField("owner", T.StringType(), False),
        T.StructField("permission", T.StringType(), False),
        T.StructField("suspension", T.BooleanType(), False),
        T.StructField("priority", T.IntegerType(), False),
    ]
)

REQUEST_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("creation_timestamp", T.TimestampType(), False),
        T.StructField("modification_timestamp", T.TimestampType(), True),
        T.StructField("finish_timestamp", T.TimestampType(), True),
        T.StructField("engine_id", T.IntegerType(), False),
        T.StructField("api_key_id", T.IntegerType(), False),
    ]
)

PAGE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("state", T.StringType(), False),
        T.StructField("score", T.DoubleType(), True),
        T.StructField("traceback", T.StringType(), True),
        T.StructField("waiting_timestamp", T.TimestampType(), True),
        T.StructField("processing_timestamp", T.TimestampType(), True),
        T.StructField("finish_timestamp", T.TimestampType(), True),
        T.StructField("request_id", T.StringType(), False),
        T.StructField("engine_version", T.IntegerType(), True),
    ]
)

ENGINE_SCHEMA = "id int, name string, description string"
ENGINE_VERSION_SCHEMA = "id int, version string, description string, engine_id int"
ENGINE_VERSION_MODEL_SCHEMA = "id int, engine_version_id int, model_id int"
MODEL_SCHEMA = "id int, name string, config string"


def _ts(minutes_ago: float) -> datetime:
    return NOW - timedelta(minutes=minutes_ago)


def seed_tables(spark: SparkSession) -> dict[str, DataFrame]:
    """Deterministic mini-world, reference seed analog."""
    api_key = spark.createDataFrame(
        [
            (1, "key_super", "test user", "SUPER_USER", False, 1),
            (2, "key_user_a", "tenant a", "USER", False, 1),
            (3, "key_user_b", "tenant b", "USER", False, 1),
            (4, "key_susp", "suspended", "USER", True, 1),
        ],
        API_KEY_SCHEMA,
    )
    engine = spark.createDataFrame(
        [
            (1, "czech_old_printed", "Czech old printed documents"),
            (2, "czech_old_handwritten", "Czech old handwritten documents"),
        ],
        ENGINE_SCHEMA,
    )
    engine_version = spark.createDataFrame(
        [
            (1, "2022-01-01", "initial", 1),
            (2, "2022-06-01", "better lines", 1),
            (3, "2022-03-01", "initial", 2),
        ],
        ENGINE_VERSION_SCHEMA,
    )
    model = spark.createDataFrame(
        [
            (1, "universal_layout", "[LAYOUT_PARSER]\nDOWNSAMPLE = 4\nPAD = 52"),
            (2, "czech_ocr", "[OCR]\nMETHOD = pytorch_ocr"),
        ],
        MODEL_SCHEMA,
    )
    engine_version_model = spark.createDataFrame(
        [(1, 1, 1), (2, 1, 2), (3, 2, 1), (4, 2, 2), (5, 3, 1)],
        ENGINE_VERSION_MODEL_SCHEMA,
    )
    request = spark.createDataFrame(
        [
            ("r1", _ts(200), _ts(5), None, 1, 2),
            ("r2", _ts(100), _ts(50), None, 1, 3),
            ("r3", _ts(60 * 24 * 9), _ts(60 * 24 * 8), _ts(60 * 24 * 8), 2, 2),
            ("r4", _ts(30), _ts(30), None, 2, 4),  # suspended tenant
        ],
        REQUEST_SCHEMA,
    )
    page = spark.createDataFrame(
        [
            # r1 (tenant a): one waiting (old), one processing (stuck >60s)
            ("p1", "page1.jpg", "http://x/1", "WAITING", None, None, _ts(90), None, None, "r1", None),
            ("p2", "page2.jpg", "http://x/2", "PROCESSING", None, None, _ts(80), _ts(3), None, "r1", None),
            # r2 (tenant b): created (no url), waiting (newer), processed recently
            ("p3", "page3.jpg", None, "CREATED", None, None, None, None, None, "r2", None),
            ("p4", "page4.jpg", "http://x/4", "WAITING", None, None, _ts(40), None, None, "r2", None),
            ("p5", "page5.jpg", "http://x/5", "PROCESSED", 86.7, None, _ts(45), _ts(44), _ts(0.5), "r2", 2),
            # r3: week-old processed page (expiry candidate)
            ("p6", "page6.jpg", "http://x/6", "PROCESSED", 91.0, None, _ts(60 * 24 * 8.5), _ts(60 * 24 * 8.4), _ts(60 * 24 * 8), "r3", 3),
            # r4: waiting page of a suspended tenant
            ("p7", "page7.jpg", "http://x/7", "WAITING", None, None, _ts(25), None, None, "r4", None),
            # p8: stuck PROCESSING but only 30s (no timeout)
            ("p8", "page8.jpg", "http://x/8", "PROCESSING", None, None, _ts(70), _ts(0.5), None, "r1", None),
        ],
        PAGE_SCHEMA,
    )
    return {
        "api_key": api_key,
        "request": request,
        "page": page,
        "engine": engine,
        "engine_version": engine_version,
        "engine_version_model": engine_version_model,
        "model": model,
    }
