"""The flagship end-to-end extraction pipeline (SURVEY.md §3.1 rebuild).

One declarative job replaces the reference's submit→poll→process→upload
loop (``routes.py:39-59`` → ``general.py:112-151`` →
``run_client.py:290-340``):

    documents ─ explode(spans) ─┬─ text/html path: X9 cleaner + X4
                                │   normalization — pure Catalyst
                                │   expressions, whole-stage codegen
                                ├─ media path: join `media` on
                                │   media_ref → mapInPandas OCR kernel
                                │   (Arrow batches, per-doc failure
                                │   capture — U4 semantics)
                                └─ union → restitch (X10) →
                                    `extracted` (+ per-partition
                                    lineage rows)

Scale notes (designed for 10^12 docs / 100 TB, tested at local[32]):

* The media join shuffles on ``media_ref`` — a *unique* key, so the
  expensive OCR work is spread row-by-row with no inherent skew; a
  media-heavy document's 1000 spans land on ~1000 different tasks.
  (Repartitioning by ``doc_id`` *before* the UDF would concentrate a
  heavy doc on one executor — deliberately avoided; doc locality is
  only needed at the stitch, where rows are already small.)
* The blobs, already shuffled on ``media_ref``, are merge-joined, never
  also broadcast; the stitch is one ``groupBy(doc_id)`` (restitch.py).
* A run's Columns are built once per SparkContext (``per_context``).
* Text path never leaves the JVM; only media rows pay the Arrow hop.
* Resume (U6/watchdog analog): ``resume_from`` anti-joins already-
  extracted doc_ids, so a rerun after failure is incremental and
  exactly-once per document.
* Lineage: each UDF partition emits one sentinel row with metrics
  (run_id, docs_in/out, order-insensitive span hash, wall ms) —
  mirrors the reference's per-page audit timestamps
  (``model.py:48-50,68-70``) without a second pass over the data.
"""

from __future__ import annotations

import hashlib
import json
import time
from collections.abc import Iterator
from types import SimpleNamespace

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pero_ocr_api_spark.functions.arabic import normalize_arabic_col
from pero_ocr_api_spark.functions.html_clean import clean_html_col
from pero_ocr_api_spark.ocr import kernel
from pero_ocr_api_spark.operators.restitch import restitch
from pero_ocr_api_spark.session import cache, per_context, release

LINEAGE_SENTINEL = "__lineage__"


def release_run(run_id: str) -> None:
    """Unpersist the cached media-UDF output of one extraction run."""
    release("run", run_id)


def release_all_runs() -> None:
    """Unpersist every extraction run's cache (session teardown)."""
    release("run")


MEDIA_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("state", T.StringType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("alto_xml", T.StringType(), True),
        T.StructField("page_xml", T.StringType(), True),
        T.StructField("txt", T.StringType(), True),
        T.StructField("confs", T.ArrayType(T.DoubleType()), True),
    ]
)


def _media_map_fn(min_confidence: float, run_id: str):
    """Build the mapInPandas kernel wrapper.

    Loads nothing per row: per-partition state (the glyph templates are
    module-level constants — the analog of the reference client's
    engine cache, ``run_client.py:61-79``) plus lineage accumulation.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t0 = time.monotonic()
        docs_in: set[str] = set()
        docs_failed: set[str] = set()
        rows_out = 0
        hash_acc = 0
        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in MEDIA_OUT_SCHEMA.fields}
            for doc_id, offset, media_ref, media_kind, media_bytes in zip(
                pdf["doc_id"],
                pdf["offset"],
                pdf["media_ref"],
                pdf["media_kind"],
                pdf["media_bytes"],
            ):
                res = kernel.process_media(
                    None if media_bytes is None else bytes(media_bytes),
                    media_kind,
                    media_ref,
                    min_confidence,
                )
                docs_in.add(doc_id)
                if res.state != kernel.STATE_PROCESSED:
                    docs_failed.add(doc_id)
                out["doc_id"].append(doc_id)
                out["offset"].append(int(offset))
                out["media_ref"].append(media_ref)
                out["text"].append(res.text)
                out["state"].append(res.state)
                out["error"].append(res.error)
                out["alto_xml"].append(res.alto_xml)
                out["page_xml"].append(res.page_xml)
                out["txt"].append(res.txt)
                out["confs"].append(res.confidences)
                rows_out += 1
                key = f"{doc_id}|{offset}|{res.state}|{res.text}".encode()
                # order-insensitive partition hash: sum of row digests
                hash_acc = (
                    hash_acc + int.from_bytes(hashlib.md5(key).digest()[:8], "big")
                ) % (2**64)
            yield pd.DataFrame(out)
        payload = json.dumps(
            {
                "run_id": run_id,
                "docs_in": len(docs_in),
                "docs_out": len(docs_in) - len(docs_failed),
                "span_hash": f"{hash_acc:016x}",
                "rows": rows_out,
                "wall_ms": int((time.monotonic() - t0) * 1000),
            }
        )
        sentinel = {"doc_id": "", "offset": -1, "media_ref": LINEAGE_SENTINEL,
                    "text": payload, "state": "LINEAGE"}
        yield pd.DataFrame(
            {f.name: [sentinel.get(f.name)] for f in MEDIA_OUT_SCHEMA.fields}
        )

    return fn


@per_context
def _text_cols() -> tuple:
    null = F.lit(None).cast("string")
    text = F.col("text")
    cleaned = F.when(F.col("kind") == "html", clean_html_col(text)).otherwise(
        F.coalesce(text, F.lit(""))
    )
    return F.col("kind") != "media", [
        *(F.col(c) for c in ("doc_id", "offset", "kind")),
        normalize_arabic_col(cleaned).alias("text"),
        null.alias("media_ref"),
        F.lit(kernel.STATE_PROCESSED).alias("state"),
        *(null.alias(c) for c in ("error", "alto_xml", "page_xml", "txt")),
        F.array().cast("array<double>").alias("confs"),
    ]


def text_path(spans: DataFrame) -> DataFrame:
    """X9 + X4 over text/html spans — pure JVM column expressions:
    html spans go through the X9 cleaner, every other kind passes
    through null-safed, then all get X4 Arabic normalization."""
    keep, cols = _text_cols()
    return spans.filter(keep).select(*cols)


@per_context
def _media_cols() -> SimpleNamespace:
    ref = F.col("media_ref")
    text = F.col("text")
    return SimpleNamespace(
        ref=ref,
        is_media=F.col("kind") == "media",
        refs=[F.col(c) for c in ("doc_id", "offset", "media_ref")],
        blobs=[F.col(c) for c in ("media_ref", "media_kind", "media_bytes")],
        joined=[F.col(c) for c in ("doc_id", "offset", "media_ref", "media_kind", "media_bytes")],
        is_row=ref.isNull() | (ref != LINEAGE_SENTINEL),
        is_lineage=ref == LINEAGE_SENTINEL,
        lineage=[
            F.get_json_object(text, "$.run_id").alias("run_id"),
            F.spark_partition_id().alias("partition_id"),
            F.get_json_object(text, "$.docs_in").cast("long").alias("docs_in"),
            F.get_json_object(text, "$.docs_out").cast("long").alias("docs_out"),
            F.get_json_object(text, "$.span_hash").alias("span_hash"),
            F.get_json_object(text, "$.wall_ms").cast("long").alias("wall_ms"),
        ],
    )


def media_path(
    spans: DataFrame,
    media: DataFrame,
    min_confidence: float = kernel.MIN_CONFIDENCE,
    run_id: str = "run0",
    udf_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Join media blobs + run the OCR kernel; returns (rows, lineage).

    The explicit repartition before the UDF is load-bearing: the OCR
    stage is compute-bound per row, not byte-bound, so AQE's
    byte-sized coalescing would otherwise shrink this stage to a
    handful of partitions and serialize the kernel. Hash on media_ref
    (unique) → perfectly uniform spread regardless of doc skew."""
    c = _media_cols()
    if udf_partitions is None:
        # one partition per core: per-task Python round-trips carry a
        # fixed cost, so bigger partitions beat finer ones as long as
        # rows-per-partition stays balanced (media_ref is unique)
        udf_partitions = spans.sparkSession.sparkContext.defaultParallelism
    # Pre-partition BOTH join inputs on (media_ref, udf_partitions):
    # the join then preserves that partitioning (no second exchange),
    # so the heavy blobs cross the wire exactly once — vs joining
    # first and repartitioning after, which shuffles every blob twice.
    # The explicit partition count also keeps AQE from byte-coalescing
    # the compute-bound UDF stage down to one task. On Iceberg the
    # media table would be bucketed by media_ref, removing even this
    # single blob shuffle.
    refs = spans.filter(c.is_media).select(*c.refs).repartition(udf_partitions, c.ref)
    # the reordering select between the refs shuffle and the join keeps
    # udf_partitions: when BOTH inputs of a sort-merge join are shuffles,
    # Spark re-creates them at spark.sql.shuffle.partitions if that is
    # more (EnsureRequirements' minimum parallelism)
    refs = refs.select(*reversed(c.refs))
    # merge, not broadcast: the blobs are already shuffled here, and a
    # blob table under autoBroadcastJoinThreshold would be collected
    # and broadcast on top (AQE converts the join at runtime). Not
    # shuffle_hash either: its per-partition hash table of blobs
    # cannot spill, the sort-merge join's sort can.
    blobs = media.select(*c.blobs).repartition(udf_partitions, c.ref).hint("merge")
    joined = refs.join(blobs, "media_ref", "left").select(*c.joined)
    out = joined.mapInPandas(_media_map_fn(min_confidence, run_id), MEDIA_OUT_SCHEMA)
    # the UDF output feeds two consumers (extracted rows + lineage);
    # persist so the expensive OCR stage runs exactly once. The cache
    # is recorded under the run's scope and freed by release_run();
    # re-running a run_id replaces its cache. (The old cache goes
    # BEFORE persisting: an identical plan re-persisted maps to the
    # same CacheManager entry, and unpersisting the old handle
    # afterwards would drop the new cache with it.)
    release_run(run_id)
    out = cache(out, ("run", run_id))
    return out.filter(c.is_row), out.filter(c.is_lineage).select(*c.lineage)


@per_context
def _run_cols() -> SimpleNamespace:
    return SimpleNamespace(
        explode=[F.col("doc_id"), F.explode("spans").alias("s")],
        spans=[F.col("doc_id")]
        + [F.col(f"s.{f}").alias(f) for f in ("kind", "text", "media_ref", "offset")],
        media_kind=F.lit("media"),
    )


def run_extract(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    min_confidence: float = kernel.MIN_CONFIDENCE,
    run_id: str = "run0",
    resume_from: DataFrame | None = None,
    udf_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full pipeline; returns (extracted, lineage) DataFrames.

    Caller writes `extracted` wherever it lives (parquet in sandbox,
    ``writeTo(...).append()`` on Iceberg); writes are idempotent per
    doc_id because resume anti-joins existing output.
    """
    if resume_from is not None:
        docs = docs.join(resume_from.select("doc_id"), "doc_id", "left_anti")
    c = _run_cols()
    spans = docs.select(*c.explode).select(*c.spans)
    t_rows = text_path(spans)
    m_rows, lineage = media_path(spans, media, min_confidence, run_id, udf_partitions)
    m_rows = m_rows.withColumn("kind", c.media_kind)
    extracted = restitch(t_rows.unionByName(m_rows))
    return extracted, lineage
