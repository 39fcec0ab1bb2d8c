"""Per-media extraction kernel: bytes → decoded text + exports.

One pure function, :func:`process_media`, shared verbatim by the
distributed path (inside ``mapInPandas`` Arrow batches,
``plans/extract.py``) and the single-process test oracle
(``tests/oracle.py``) — so golden tests compare the *pipeline
plumbing*, not two divergent kernels.

Error protocol mirrors the reference client loop
(``run_client.py:316-331``): the error state is pre-set before each
risky step, the kernel never raises — it returns a failure result so
one bad document cannot kill an executor task:

* ``NOT_FOUND``          — media_ref had no row in the media table
  (reference: page URL 404, ``general.py:231-236``);
* ``INVALID_FILE``       — bytes fail to decode (reference:
  ``get_image`` raise, ``run_client.py:317``);
* ``PROCESSING_FAILED``  — layout/OCR stage raise
  (``run_client.py:321``).

The ``STATE_*`` constants below are the one definition of these page
states. The reference's full page state diagram
(``app/db/model.py:13-22``):

    CREATED → WAITING → PROCESSING → PROCESSED → EXPIRED
        ↘ CANCELED ↙        ↓ (60 s timeout) → WAITING
                            ↓ → NOT_FOUND | INVALID_FILE | PROCESSING_FAILED

The kernel takes the last step out of PROCESSING, and ``run_extract``
writes each document's final state once. The other transitions are
per-row updates at the REST service's edge, with no batch writer here;
the registry queries ``timeout_requeue``, ``cancel_anti_join`` and
``expiry_scan`` read them, and ``streaming.pipeline.stream_timeout_requeue``
is the 60 s watchdog.
"""

from __future__ import annotations

import traceback
from dataclasses import dataclass, field

import numpy as np

from pero_ocr_api_spark.functions.arabic import is_arabic_line
from pero_ocr_api_spark.ocr import exports, glyphs, jpeg, layout, pdf, png
from pero_ocr_api_spark.ocr.layout import Block, Line

STATE_PROCESSED = "PROCESSED"
STATE_NOT_FOUND = "NOT_FOUND"
STATE_INVALID_FILE = "INVALID_FILE"
STATE_PROCESSING_FAILED = "PROCESSING_FAILED"

# reference default line-confidence threshold (run_client.py:41-42)
MIN_CONFIDENCE = 0.42


@dataclass
class MediaResult:
    state: str
    text: str = ""  # filtered + normalized, "\n"-joined (span text)
    alto_xml: str | None = None
    page_xml: str | None = None
    txt: str | None = None
    error: str | None = None
    confidences: list[float] = field(default_factory=list)  # post-filter


_PAGE_GAP = 120  # white rows between stacked scanned-PDF pages — wide
# enough that layout's projection-profile block split never bridges
# two pages (block gaps in rendered fixtures are ~MIN_BLOCK_GAP_Y=40)


def _stack_pages(imgs: list[np.ndarray]) -> np.ndarray:
    """Stack scanned-PDF page rasters vertically (white background,
    white page gap) so multi-page documents flow through the
    single-canvas layout/OCR stages in reading order."""
    if len(imgs) == 1:
        return imgs[0]
    width = max(im.shape[1] for im in imgs)
    parts: list[np.ndarray] = []
    for i, im in enumerate(imgs):
        if i:
            parts.append(np.full((_PAGE_GAP, width), 255, dtype=np.uint8))
        if im.shape[1] < width:
            pad = np.full((im.shape[0], width - im.shape[1]), 255, np.uint8)
            im = np.concatenate([im, pad], axis=1)
        parts.append(im)
    return np.concatenate(parts, axis=0)


def process_media(
    media_bytes: bytes | None,
    media_kind: str | None,
    media_ref: str,
    min_confidence: float = MIN_CONFIDENCE,
) -> MediaResult:
    if media_bytes is None:
        return MediaResult(
            state=STATE_NOT_FOUND,
            error=f"media_ref {media_ref!r} not found in media table",
        )
    # decode stage → INVALID_FILE on failure. Three real decode paths:
    # raster pages (PNG / baseline-grayscale JPEG → layout analysis +
    # glyph OCR), digital-text PDFs (content-stream text operators,
    # ocr/pdf.py — no rasterization, per-line confidence 1.0), and
    # scanned PDFs (no text operators; /DCTDecode page-image XObjects
    # decode to rasters and flow through the same OCR stages);
    # everything else is the whitelist refusal (S2), same as a
    # malformed file.
    pdf_lines: list[str] | None = None
    gray = None
    try:
        if media_kind == "image/png":
            gray = png.decode_gray(media_bytes)
        elif media_kind == "image/jpeg":
            gray = jpeg.decode_gray(media_bytes)
        elif media_kind == "application/pdf":
            try:
                pdf_lines = pdf.extract_text(media_bytes)
            except pdf.NoTextPdfError:
                # scanned-PDF fallback: ONLY on the typed no-text
                # signal (image XObjects are already skipped by
                # extract_text). Any other PdfError — encrypted,
                # unsupported filter, corrupt structure — propagates
                # → INVALID_FILE: re-routing a broken TEXT pdf to
                # image OCR would silently discard its text (review
                # finding). A no-text PDF with no decodable page
                # images re-raises from extract_page_images.
                gray = _stack_pages(pdf.extract_page_images(media_bytes))
        else:
            raise png.PngError(f"unsupported media_kind {media_kind!r}")
    except Exception:
        return MediaResult(
            state=STATE_INVALID_FILE, error=traceback.format_exc()
        )
    try:
        if gray is not None:
            blocks = layout.analyze_page(gray, glyphs.SCALE)
            page_wh = (gray.shape[1], gray.shape[0])
        else:
            blocks = pdf.to_blocks(pdf_lines)
            page_wh = (pdf.PAGE_W, pdf.PAGE_H)
        # ALTO first: unfiltered, unnormalized (run_client.py:209)
        alto = exports.to_alto_xml(blocks, page_wh, media_ref, min_confidence)
        # confidence filter: strictly greater-than, falsy conf dropped
        # (run_client.py:212-216)
        filtered: list[Block] = []
        if min_confidence > 0:
            for b in blocks:
                kept = [
                    l for l in b.lines
                    if l.confidence and l.confidence > min_confidence
                ]
                filtered.append(
                    Block(y0=b.y0, x0=b.x0, y1=b.y1, x1=b.x1, lines=kept)
                )
        else:
            filtered = blocks
        # Arabic normalization after the filter (run_client.py:218-220)
        for b in filtered:
            b.lines = [
                Line(
                    text=l.text[::-1] if is_arabic_line(l.text) else l.text,
                    confidence=l.confidence,
                    y0=l.y0,
                    x0=l.x0,
                    h=l.h,
                    w=l.w,
                )
                for l in b.lines
            ]
        page_xml = exports.to_page_xml(filtered, page_wh, media_ref)
        txt = exports.to_txt(filtered)
        confs = [l.confidence for b in filtered for l in b.lines]
        return MediaResult(
            state=STATE_PROCESSED,
            text="\n".join(l.text for b in filtered for l in b.lines),
            alto_xml=alto,
            page_xml=page_xml,
            txt=txt,
            confidences=confs,
        )
    except Exception:
        return MediaResult(
            state=STATE_PROCESSING_FAILED, error=traceback.format_exc()
        )

