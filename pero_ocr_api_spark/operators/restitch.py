"""X10 — re-stitch processed spans back into per-document arrays.

Reading order is re-established by sorting on ``offset`` *inside the
aggregate* — never by relying on shuffle arrival order. This produces
the per-row invariant: span-sequence equality ``(kind, text,
media_ref, order)``. Every sort is a typed ``sort_array`` over structs
led by ``offset`` and every read-back a struct-field projection, so no
per-element lambda runs: a span is collected as ``(offset, s)`` with
``s`` already in the output field order, and ``o_spans.s`` is the
``spans`` column. The score is ``portable.sorted_median`` of the
sorted confidences x100, rounded to 2 dp, and 100.0 for a document
with none (``routes.py:271``).

Scale design: one ``groupBy(doc_id)``, one shuffle. A media-heavy
document (FIXTURES §1: 20-50+ spans, at 100 TB potentially thousands)
is a larger group, but its reducer receives every span of the
document whichever way the aggregate is split, so salting the key
into partial groups only adds a second shuffle. The partial
aggregate runs map-side before that one shuffle. The aggregate and
output Columns are built once per SparkContext
(``session.per_context``) and reused by every run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pero_ocr_api_spark.functions.portable import sorted_median
from pero_ocr_api_spark.ocr.kernel import STATE_PROCESSED
from pero_ocr_api_spark.session import per_context


@per_context
def _cols() -> tuple:
    span_struct = F.struct(
        "offset", F.struct("kind", "text", "media_ref", "offset").alias("s")
    )
    fail_struct = F.when(
        F.col("state") != STATE_PROCESSED, F.struct("offset", "state", "error")
    )
    export_struct = F.when(
        F.col("alto_xml").isNotNull(),
        F.struct("offset", "alto_xml", "page_xml", "txt"),
    )
    aggs = [
        F.sort_array(F.collect_list(span_struct)).alias("o_spans"),
        F.sort_array(F.collect_list(fail_struct)).alias("o_fails"),
        F.sort_array(F.collect_list(export_struct)).alias("o_exports"),
        F.sort_array(F.flatten(F.collect_list("confs"))).alias("o_confs"),
    ]
    score = F.coalesce(
        F.round(sorted_median("o_confs") * 100.0, 2), F.lit(100.0)
    )

    first_fail = F.get("o_fails", 0)
    join_exports = lambda field, sep: F.when(  # noqa: E731
        F.size("o_exports") > 0,
        F.array_join(F.col("o_exports")[field], sep),
    )

    doc_id = F.col("doc_id")
    return doc_id, aggs, [
        doc_id,
        F.col("o_spans")["s"].alias("spans"),
        score.alias("score"),
        F.coalesce(first_fail["state"], F.lit(STATE_PROCESSED)).alias("state"),
        first_fail["error"].alias("error"),
        join_exports("alto_xml", "\n").alias("alto_xml"),
        join_exports("page_xml", "\n").alias("page_xml"),
        # per-media txt is already newline-terminated — plain concat
        join_exports("txt", "").alias("txt"),
    ]


def restitch(span_rows: DataFrame) -> DataFrame:
    """Aggregate processed span rows (doc_id, offset, kind, text,
    media_ref, state, error, alto_xml, page_xml, txt, confs — the text
    and media paths of plans/extract.py) into `extracted` documents."""
    doc_id, aggs, out = _cols()
    return span_rows.groupBy(doc_id).agg(*aggs).select(*out)
