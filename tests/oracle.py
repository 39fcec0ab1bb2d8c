"""Single-process oracle pipeline (FIXTURES.md §6).

Runs the same per-span kernels as the Spark plan — the *kernels* are
shared on purpose, so these golden tests verify the distributed
plumbing (explode, routing, media join, shuffle, the groupBy(doc_id)
stitch, ordering) against a trivially-correct sequential loop, plus the
decoded-text-vs-ground-truth check in test_pipeline_golden.py.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pandas as pd

from pero_ocr_api_spark.functions.arabic import normalize_arabic_py
from pero_ocr_api_spark.functions.html_clean import clean_html_py
from pero_ocr_api_spark.ocr import kernel


def round_half_up(x: float, digits: int) -> float:
    """Spark's ROUND (BigDecimal.valueOf + HALF_UP) emulation."""
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def doc_score(confidences: list[float]) -> float:
    if not confidences:
        return 100.0
    v = sorted(confidences)
    n = len(v)
    h = (n - 1) * 0.5
    lo = int(h)
    # numpy _lerp upper-anchored form for t=0.5 (bit-exact with
    # np.quantile and with functions/portable.sorted_median)
    med = v[lo] if h == lo else v[lo + 1] - (v[lo + 1] - v[lo]) * 0.5
    return round_half_up(med * 100.0, 2)


def extract_docs(
    docs_pdf: pd.DataFrame,
    media_pdf: pd.DataFrame,
    min_confidence: float = kernel.MIN_CONFIDENCE,
) -> list[dict]:
    media_lookup = {
        r.media_ref: (r.media_kind, r.media_bytes)
        for r in media_pdf.itertuples()
    }
    out: list[dict] = []
    for _, doc in docs_pdf.iterrows():
        spans_sorted = sorted(doc["spans"], key=lambda s: s["offset"])
        new_spans: list[dict] = []
        fails: list[tuple[int, str, str]] = []
        confs: list[float] = []
        altos: list[str] = []
        pages: list[str] = []
        txts: list[str] = []
        for s in spans_sorted:
            if s["kind"] == "media":
                mk, mb = media_lookup.get(s["media_ref"], (None, None))
                res = kernel.process_media(
                    None if mb is None else bytes(mb),
                    mk,
                    s["media_ref"],
                    min_confidence,
                )
                if res.state != kernel.STATE_PROCESSED:
                    fails.append((s["offset"], res.state, res.error))
                confs.extend(res.confidences)
                if res.alto_xml is not None:
                    altos.append(res.alto_xml)
                    pages.append(res.page_xml)
                    txts.append(res.txt)
                new_spans.append(
                    {
                        "kind": "media",
                        "text": res.text,
                        "media_ref": s["media_ref"],
                        "offset": s["offset"],
                    }
                )
            else:
                text = s["text"]
                text = clean_html_py(text) if s["kind"] == "html" else (text or "")
                text = normalize_arabic_py(text)
                new_spans.append(
                    {
                        "kind": s["kind"],
                        "text": text,
                        "media_ref": None,
                        "offset": s["offset"],
                    }
                )
        out.append(
            {
                "doc_id": doc["doc_id"],
                "spans": new_spans,
                "score": doc_score(confs),
                "state": fails[0][1] if fails else "PROCESSED",
                "error": fails[0][2] if fails else None,
                "alto_xml": "\n".join(altos) if altos else None,
                "page_xml": "\n".join(pages) if pages else None,
                "txt": "".join(txts) if txts else None,
            }
        )
    return out
