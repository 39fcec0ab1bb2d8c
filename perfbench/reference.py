"""Single-process reference for the extract output check.

The expected row of every document is built from the same per-span
functions the pipeline uses (``kernel.process_media``, the Python
twins of the HTML cleaner and the Arabic normalizer), composed by a
plain sequential loop. The check compares the pipeline's written rows
with it on the span sequence ``(kind, text, media_ref, order)``, state,
score and exports, and compares every processed page's text with the
generator's ``truth_text``.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal


def kernel_pass(media: list[dict]) -> dict:
    """``media_ref -> MediaResult`` for every media row, in order."""
    from pero_ocr_api_spark.ocr import kernel

    return {
        m["media_ref"]: kernel.process_media(m["media_bytes"], m["media_kind"], m["media_ref"])
        for m in media
    }


def _round_half_up(x: float, digits: int) -> float:
    """Spark's ROUND (BigDecimal.valueOf + HALF_UP)."""
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _doc_score(confs: list[float]) -> float:
    if not confs:
        return 100.0
    v = sorted(confs)
    h = (len(v) - 1) * 0.5
    lo = int(h)
    med = v[lo] if h == lo else v[lo + 1] - (v[lo + 1] - v[lo]) * 0.5
    return _round_half_up(med * 100.0, 2)


def expected_rows(docs: list[dict], results: dict) -> dict[str, dict]:
    """``doc_id -> expected extracted row``."""
    from pero_ocr_api_spark.functions.arabic import normalize_arabic_py
    from pero_ocr_api_spark.functions.html_clean import clean_html_py
    from pero_ocr_api_spark.ocr import kernel

    out = {}
    for doc in docs:
        spans, fails, confs, exports = [], [], [], []
        for s in sorted(doc["spans"], key=lambda s: s["offset"]):
            if s["kind"] == "media":
                res = results.get(s["media_ref"]) or kernel.process_media(
                    None, None, s["media_ref"]
                )
                if res.state != kernel.STATE_PROCESSED:
                    fails.append(res.state)
                confs.extend(res.confidences)
                if res.alto_xml is not None:
                    exports.append((res.alto_xml, res.page_xml, res.txt))
                text = res.text
            else:
                text = s["text"] or ""
                if s["kind"] == "html":
                    text = clean_html_py(text)
                text = normalize_arabic_py(text)
            spans.append((s["kind"], text, s["media_ref"], s["offset"]))
        out[doc["doc_id"]] = {
            "spans": spans,
            "state": fails[0] if fails else "PROCESSED",
            "score": _doc_score(confs),
            "alto_xml": "\n".join(e[0] for e in exports) if exports else None,
            "page_xml": "\n".join(e[1] for e in exports) if exports else None,
            "txt": "".join(e[2] for e in exports) if exports else None,
        }
    return out


def _truth_ok(spans: list[tuple], truth: dict[str, str]) -> bool:
    """Every decoded page line appears in the page's truth, in order."""
    for kind, text, ref, _ in spans:
        if kind != "media" or truth.get(ref) is None or not text:
            continue
        it = iter(truth[ref].split("\n"))
        if not all(line in it for line in text.split("\n")):
            return False
    return True


def check_rows(got: list[dict], expected: dict[str, dict], truth: dict[str, str]) -> list[str]:
    """Doc ids that are missing, duplicated or differ from the reference."""
    bad: list[str] = []
    seen: set[str] = set()
    for row in got:
        doc_id = row["doc_id"]
        exp = expected.get(doc_id)
        spans = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]]
        if (
            exp is None
            or doc_id in seen
            or spans != exp["spans"]
            or row["state"] != exp["state"]
            or row["score"] != exp["score"]
            or any(row[k] != exp[k] for k in ("alto_xml", "page_xml", "txt"))
            or not _truth_ok(spans, truth)
        ):
            bad.append(doc_id)
        seen.add(doc_id)
    bad.extend(sorted(set(expected) - seen))
    return bad
