"""X10 — re-stitch processed spans back into per-document arrays.

Reading order is re-established by sorting on ``offset`` *inside the
aggregate* — never by relying on shuffle arrival order. This produces
the per-row invariant: span-sequence equality ``(kind, text,
media_ref, order)``.

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

from pero_ocr_api_spark.session import per_context


@per_context
def _cols() -> tuple:
    span_struct = F.struct("offset", "kind", "text", "media_ref")
    fail_struct = F.when(
        F.col("state") != "PROCESSED", F.struct("offset", "state", "error")
    )
    export_struct = F.when(
        F.col("alto_xml").isNotNull(),
        F.struct("offset", "alto_xml", "page_xml", "txt"),
    )
    aggs = [
        F.array_sort(F.collect_list(span_struct)).alias("o_spans"),
        F.array_sort(F.collect_list(fail_struct)).alias("o_fails"),
        F.array_sort(F.collect_list(export_struct)).alias("o_exports"),
        F.array_sort(F.flatten(F.collect_list("confs"))).alias("o_confs"),
    ]

    n = F.size("o_confs")
    h = (n - F.lit(1)).cast("double") * 0.5
    lo = F.floor(h).cast("int")
    # F.get is 0-based and null-safe out of bounds (ANSI mode safe)
    v_lo = F.get("o_confs", lo)
    v_hi = F.get("o_confs", lo + 1)
    # np.quantile(v, .5) bit-exact: for t=0.5 numpy's _lerp uses the
    # upper-anchored form b - (b-a)*0.5 (not a + (b-a)*0.5 — they can
    # differ by one ulp, which flips a rounding boundary; found by
    # the hypothesis property test)
    median = F.when(h == lo.cast("double"), v_lo).otherwise(
        v_hi - (v_hi - v_lo) * 0.5
    )
    score = F.when(n == 0, F.lit(100.0)).otherwise(F.round(median * 100.0, 2))

    first_fail = F.get("o_fails", 0)
    join_exports = lambda field, sep: F.when(  # noqa: E731
        F.size("o_exports") > 0,
        F.array_join(F.transform("o_exports", lambda e: e[field]), sep),
    )

    doc_id = F.col("doc_id")
    return doc_id, aggs, [
        doc_id,
        F.transform(
            "o_spans",
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ).alias("spans"),
        score.alias("score"),
        F.coalesce(first_fail["state"], F.lit("PROCESSED")).alias("state"),
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
