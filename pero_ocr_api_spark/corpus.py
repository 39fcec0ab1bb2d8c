"""Deterministic synthetic interleaved-document corpus (FIXTURES.md).

Every row is a pure function of ``(seed, doc_index)`` so the corpus can
be generated driver-side for unit tests *and* distributed (mapInPandas
over ``spark.range``) for bench-scale runs, with identical content.
Replaces the reference's DB seed block (``app/db/model.py:138-242``)
and curl-smoke inputs as the fixture mechanism.

Edge cases (FIXTURES.md §1) are pinned to fixed doc indices:

====  =========================================================
idx   case
====  =========================================================
0     no media spans at all
1     only media spans
2     contains an empty text span
3     html span that is 100% boilerplate (cleans to empty)
4     corrupt media bytes → INVALID_FILE
5     media_ref with no media row → NOT_FOUND
6     Arabic-range text line → X4 normalization
7     unsupported media_kind → INVALID_FILE (decode refuses)
====  =========================================================

Docs with ``idx % 41 == 8`` are media-heavy (20-50 media spans) to
exercise skew handling.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pero_ocr_api_spark.ocr import pdf, png
from pero_ocr_api_spark.ocr.glyphs import SCALE
from pero_ocr_api_spark.ocr.render import (
    MIN_BLOCK_GAP_X,
    MIN_BLOCK_GAP_Y,
    BlockSpec,
    render_page,
)

TEXT_VOCAB = (
    "the quick brown fox jumps over lazy dog and a small stream runs to "
    "the old mill where grain is ground for bread that people in town "
    "buy each morning with fresh milk and eggs from nearby farms"
).split()

MEDIA_VOCAB = (
    "SCAN PAGE LINE TEXT BLOCK PRESS TYPE WORD INK PAPER GLYPH MARK "
    "QUILL FOLIO VERSE STANZA TITLE INDEX PLATE FIGURE"
).split()

BOILERPLATE_NAV = '<nav>Home | <a href="/a">About</a> | <a href="/c">Contact</a></nav>'
BOILERPLATE_FOOTER = "<footer>Copyright 2024 Example Corp. All rights reserved.</footer>"
BOILERPLATE_SCRIPT = "<script>var tracker = init('UA-1234');</script>"
ARABIC_SAMPLE = "مرحبا بالعالم"

# per-line noise levels; 0.6 → confidence ≈ 0.4 < 0.42 (filtered out)
NOISE_LEVELS = (0.0, 0.2, 0.35, 0.5, 0.6)

MEDIA_HEAVY_MOD = 41
MEDIA_HEAVY_IDX = 8


def _rng(seed: int, idx: int) -> np.random.RandomState:
    return np.random.RandomState((seed * 1_000_003 + idx) % (2**31 - 1))


def _sentence(rng: np.random.RandomState, n: int) -> str:
    return " ".join(TEXT_VOCAB[i] for i in rng.randint(0, len(TEXT_VOCAB), n))


def _media_line(rng: np.random.RandomState) -> str:
    n = int(rng.randint(2, 5))
    words = [MEDIA_VOCAB[i] for i in rng.randint(0, len(MEDIA_VOCAB), n)]
    if rng.random_sample() < 0.3:
        words.append(str(int(rng.randint(0, 100))))
    return " ".join(words)


def _html_span(rng: np.random.RandomState) -> str:
    body = _sentence(rng, int(rng.randint(6, 20)))
    extra = _sentence(rng, int(rng.randint(4, 12)))
    return (
        f"<html><head>{BOILERPLATE_SCRIPT}<style>p{{margin:0}}</style></head>"
        f"<body>{BOILERPLATE_NAV}<p>{body}</p>"
        f'<div><a href="/x">click</a> <a href="/y">here</a></div>'
        f"<p>{extra}</p>{BOILERPLATE_FOOTER}</body></html>"
    )


def _page_spec(rng: np.random.RandomState) -> list[BlockSpec]:
    n_blocks = int(rng.randint(1, 4))
    blocks: list[BlockSpec] = []
    y = int(rng.randint(8, 24))
    for _ in range(n_blocks):
        x = int(rng.randint(8, 40))
        n_lines = int(rng.randint(1, 5))
        lines = [
            (_media_line(rng), float(NOISE_LEVELS[rng.randint(0, len(NOISE_LEVELS))]))
            for _ in range(n_lines)
        ]
        blocks.append(BlockSpec(y=y, x=x, lines=lines))
        y += n_lines * 9 * SCALE + MIN_BLOCK_GAP_Y + int(rng.randint(0, 24))
    return blocks


def doc_record(seed: int, idx: int) -> tuple[dict, list[dict]]:
    """Pure generator for one document: (doc row, media rows)."""
    rng = _rng(seed, idx)
    doc_id = f"doc{idx:09d}"
    media_heavy = idx % MEDIA_HEAVY_MOD == MEDIA_HEAVY_IDX
    if idx == 0:
        kinds = ["text", "html", "text"]
    elif idx == 1:
        kinds = ["media", "media"]
    elif media_heavy:
        kinds = ["text"] + ["media"] * int(rng.randint(20, 51))
    else:
        n = int(rng.randint(1, 13))
        kinds = [
            ("text", "html", "media")[i]
            for i in rng.choice(3, size=n, p=[0.45, 0.3, 0.25])
        ]
    spans: list[dict] = []
    media_rows: list[dict] = []
    for off, kind in enumerate(kinds):
        span = {"kind": kind, "text": None, "media_ref": None, "offset": off}
        if kind == "text":
            span["text"] = _sentence(rng, int(rng.randint(3, 15)))
        elif kind == "html":
            span["text"] = _html_span(rng)
        else:
            ref = f"m{idx:09d}_{off}"
            span["media_ref"] = ref
            page = _page_spec(rng)
            img, truth = render_page(page, SCALE, seed=int(rng.randint(0, 2**31)))
            media_rows.append(
                {
                    "media_ref": ref,
                    "media_kind": "image/png",
                    "media_bytes": png.encode_gray(img),
                    "truth_text": truth,
                }
            )
        spans.append(span)
    # pinned edge cases overlay
    if idx == 2 and spans:
        spans[0] = {"kind": "text", "text": "", "media_ref": None, "offset": 0}
    if idx == 3:
        spans.insert(
            0,
            {
                "kind": "html",
                "text": f"<html><body>{BOILERPLATE_NAV}{BOILERPLATE_FOOTER}</body></html>",
                "media_ref": None,
                "offset": 0,
            },
        )
        for i, s in enumerate(spans):
            s["offset"] = i
    if idx == 4:
        ref = f"m{idx:09d}_corrupt"
        spans.append(
            {"kind": "media", "text": None, "media_ref": ref, "offset": len(spans)}
        )
        media_rows.append(
            {
                "media_ref": ref,
                "media_kind": "image/png",
                "media_bytes": b"\x89PNG\r\n\x1a\nGARBAGE-NOT-A-REAL-PNG",
                "truth_text": None,
            }
        )
    if idx == 5:
        spans.append(
            {
                "kind": "media",
                "text": None,
                "media_ref": f"m{idx:09d}_missing",
                "offset": len(spans),
            }
        )
    if idx == 6:
        spans.append(
            {
                "kind": "text",
                "text": f"greeting line\n{ARABIC_SAMPLE}",
                "media_ref": None,
                "offset": len(spans),
            }
        )
    if idx == 7:
        ref = f"m{idx:09d}_badkind"
        spans.append(
            {"kind": "media", "text": None, "media_ref": ref, "offset": len(spans)}
        )
        media_rows.append(
            {
                "media_ref": ref,
                "media_kind": "application/pdf",
                "media_bytes": b"%PDF-1.4 fake",
                "truth_text": None,
            }
        )
    if idx == 9:
        # digital-text PDF span: a REAL one-page PDF (Flate content
        # stream, ocr/pdf.py writer) whose text the extractor must
        # recover verbatim — escape-heavy line included on purpose
        ref = f"m{idx:09d}_pdf"
        pdf_lines = [
            "digital pdf line one",
            r"parens (nested (deep)) and back\slash",
            "final pdf line",
        ]
        spans.append(
            {"kind": "media", "text": None, "media_ref": ref, "offset": len(spans)}
        )
        media_rows.append(
            {
                "media_ref": ref,
                "media_kind": "application/pdf",
                "media_bytes": pdf.encode_text_pdf(pdf_lines),
                "truth_text": "\n".join(pdf_lines),
            }
        )
    if idx == 10:
        # PDF 1.5 layout: dictionaries in an object stream, xref
        # stream, classic Flate content object (ocr/pdf.py widened
        # subset) — the layout modern PDF writers emit
        ref = f"m{idx:09d}_pdf15"
        pdf15_lines = ["objstm pdf line", "xref stream layout"]
        spans.append(
            {"kind": "media", "text": None, "media_ref": ref, "offset": len(spans)}
        )
        media_rows.append(
            {
                "media_ref": ref,
                "media_kind": "application/pdf",
                "media_bytes": pdf.encode_text_pdf_objstm(pdf15_lines),
                "truth_text": "\n".join(pdf15_lines),
            }
        )
    if idx == 11:
        # [/ASCIIHexDecode /FlateDecode] cascade content stream
        ref = f"m{idx:09d}_pdfhex"
        hex_lines = ["ascii hex cascade", "second hex line"]
        spans.append(
            {"kind": "media", "text": None, "media_ref": ref, "offset": len(spans)}
        )
        media_rows.append(
            {
                "media_ref": ref,
                "media_kind": "application/pdf",
                "media_bytes": pdf.encode_text_pdf_hex(hex_lines, cascade=True),
                "truth_text": "\n".join(hex_lines),
            }
        )
    if idx == 12:
        # Flate + PNG-Up predictor content stream (/DecodeParms
        # /Predictor 12) — the row-predicted layout modern writers emit
        ref = f"m{idx:09d}_pdfpred"
        pred_lines = ["predicted content stream", "png up rows"]
        spans.append(
            {"kind": "media", "text": None, "media_ref": ref, "offset": len(spans)}
        )
        media_rows.append(
            {
                "media_ref": ref,
                "media_kind": "application/pdf",
                "media_bytes": pdf.encode_text_pdf_pred(pred_lines),
                "truth_text": "\n".join(pred_lines),
            }
        )
    if idx == 13:
        # /LZWDecode content stream (EarlyChange=1) — the classic
        # pre-Flate compression older writers emit
        ref = f"m{idx:09d}_pdflzw"
        lzw_lines = ["lzw compressed content", "early change width"]
        spans.append(
            {"kind": "media", "text": None, "media_ref": ref, "offset": len(spans)}
        )
        media_rows.append(
            {
                "media_ref": ref,
                "media_kind": "application/pdf",
                "media_bytes": pdf.encode_text_pdf_lzw(lzw_lines),
                "truth_text": "\n".join(lzw_lines),
            }
        )
    if idx == 14:
        # multi-page PDF: content streams concatenate in document
        # order, so the span text is all pages' lines in reading order
        ref = f"m{idx:09d}_pdfpages"
        page_sets = [["first page line"], ["second page line", "and more"]]
        spans.append(
            {"kind": "media", "text": None, "media_ref": ref, "offset": len(spans)}
        )
        media_rows.append(
            {
                "media_ref": ref,
                "media_kind": "application/pdf",
                "media_bytes": pdf.encode_text_pdf_pages(page_sets),
                "truth_text": "\n".join(ln for pg in page_sets for ln in pg),
            }
        )
    if idx == 15:
        # baseline-JPEG raster page (ocr/jpeg.py): the commonest
        # real-world image kind; near-lossless fixture quant so the
        # glyph OCR recovers the rendered truth verbatim
        from pero_ocr_api_spark.ocr import jpeg

        ref = f"m{idx:09d}_jpeg"
        page = _page_spec(rng)
        img, truth = render_page(page, SCALE, seed=int(rng.randint(0, 2**31)))
        spans.append(
            {"kind": "media", "text": None, "media_ref": ref, "offset": len(spans)}
        )
        media_rows.append(
            {
                "media_ref": ref,
                "media_kind": "image/jpeg",
                "media_bytes": jpeg.encode_gray(img),
                "truth_text": truth,
            }
        )
    if idx == 16:
        # SCANNED PDF: a raster page wrapped in a /DCTDecode image
        # XObject, no text operators — pero-ocr's home-turf layout;
        # the kernel falls back to extract_page_images + raster OCR
        ref = f"m{idx:09d}_pdfscan"
        page = _page_spec(rng)
        img, truth = render_page(page, SCALE, seed=int(rng.randint(0, 2**31)))
        spans.append(
            {"kind": "media", "text": None, "media_ref": ref, "offset": len(spans)}
        )
        media_rows.append(
            {
                "media_ref": ref,
                "media_kind": "application/pdf",
                "media_bytes": pdf.encode_scanned_pdf([img]),
                "truth_text": truth,
            }
        )
    # physical order shuffled; offset carries reading order (FIXTURES §1)
    order = rng.permutation(len(spans))
    spans = [spans[i] for i in order]
    return {"doc_id": doc_id, "spans": spans}, media_rows


def generate_pandas(n_docs: int, seed: int = 42) -> tuple[pd.DataFrame, pd.DataFrame]:
    docs, media = [], []
    for idx in range(n_docs):
        d, m = doc_record(seed, idx)
        docs.append(d)
        media.extend(m)
    return pd.DataFrame(docs), pd.DataFrame(
        media, columns=["media_ref", "media_kind", "media_bytes", "truth_text"]
    )


def generate_spark(spark, n_docs: int, seed: int = 42, partitions: int | None = None):
    """Distributed corpus generation: mapInPandas over spark.range.

    Two independent passes (documents, media) regenerate from the same
    pure per-doc function — no shuffle, no driver materialization, so
    this scales to bench-size corpora.
    """
    from pero_ocr_api_spark.sources.tables import DOCUMENTS_SCHEMA, MEDIA_SCHEMA

    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    rng_range = spark.range(0, n_docs, 1, partitions)

    def gen_docs(batches):
        for pdf in batches:
            rows = [doc_record(seed, int(i))[0] for i in pdf["id"]]
            yield pd.DataFrame(
                {
                    "doc_id": [r["doc_id"] for r in rows],
                    "spans": [r["spans"] for r in rows],
                }
            )

    def gen_media(batches):
        for pdf in batches:
            rows: list[dict] = []
            for i in pdf["id"]:
                rows.extend(doc_record(seed, int(i))[1])
            yield pd.DataFrame(
                rows, columns=["media_ref", "media_kind", "media_bytes", "truth_text"]
            )

    docs_df = rng_range.mapInPandas(gen_docs, DOCUMENTS_SCHEMA)
    media_df = rng_range.mapInPandas(gen_media, MEDIA_SCHEMA)
    return docs_df, media_df
