"""Unit tests for the numpy OCR stack (png / glyphs / layout / kernel)."""

from __future__ import annotations

import numpy as np
import pytest

from pero_ocr_api_spark.ocr import glyphs, kernel, layout, png
from pero_ocr_api_spark.ocr.render import BlockSpec, render_page


def test_font_invariants():
    seen = {}
    for ch, bm in glyphs.FONT.items():
        assert bm.shape == (7, 5)
        assert bm[0].any(), f"{ch}: no ink in row 0"
        assert bm[:, 0].any(), f"{ch}: no ink in col 0"
        assert all(bm[r].any() for r in range(7)), f"{ch}: empty row"
        key = bm.tobytes()
        assert key not in seen, f"{ch} duplicates {seen.get(key)}"
        seen[key] = ch


def test_png_roundtrip():
    rng = np.random.RandomState(3)
    img = (rng.random_sample((37, 53)) * 255).astype(np.uint8)
    assert (png.decode_gray(png.encode_gray(img)) == img).all()


def test_png_rejects_garbage():
    with pytest.raises(png.PngError):
        png.decode_gray(b"not a png at all")
    with pytest.raises(png.PngError):
        png.decode_gray(b"\x89PNG\r\n\x1a\ntruncated")
    # a 12-byte IHDR: the header struct cannot be read from it
    with pytest.raises(png.PngError):
        png.decode_gray(png._SIGNATURE + png._chunk(b"IHDR", bytes(12)))


@pytest.mark.parametrize("scale", [3, 5])
@pytest.mark.parametrize("noise", [0.0, 0.35, 0.6])
def test_line_roundtrip(scale, noise):
    rng = np.random.RandomState(11)
    text = "SPARK ENGINE 42"
    img = glyphs.render_line(text, scale, noise, rng)
    decoded, conf = glyphs.decode_cells(img, scale)
    assert decoded == text
    if noise == 0.0:
        assert conf == 1.0
    else:
        assert abs(conf - (1 - noise)) < 0.08


def test_page_layout_reading_order():
    specs = [
        BlockSpec(y=10, x=12, lines=[("TOP BLOCK", 0.0)]),
        BlockSpec(y=110, x=20, lines=[("LEFT", 0.0)]),
        BlockSpec(y=110, x=300, lines=[("RIGHT SIDE", 0.0)]),
        BlockSpec(y=220, x=8, lines=[("BOTTOM", 0.0)]),
    ]
    img, truth = render_page(specs, 5, seed=1)
    blocks = layout.analyze_page(img, 5)
    decoded = "\n".join(l.text for b in blocks for l in b.lines)
    assert decoded == truth == "TOP BLOCK\nLEFT\nRIGHT SIDE\nBOTTOM"


def test_kernel_confidence_filter_and_score():
    # one surviving line (noise .2 → conf ≈ .8) and one filtered
    # (noise .6 → conf ≈ .4 < 0.42, run_client.py:41-42 default)
    specs = [BlockSpec(y=10, x=10, lines=[("KEEP ME", 0.2), ("DROP ME", 0.6)])]
    img, _ = render_page(specs, 5, seed=2)
    res = kernel.process_media(png.encode_gray(img), "image/png", "m1")
    assert res.state == "PROCESSED"
    assert res.text == "KEEP ME"
    assert res.txt == "KEEP ME\n"
    assert len(res.confidences) == 1
    # ALTO keeps both lines (serialized pre-filter, run_client.py:209)
    assert "KEEP ME" in res.alto_xml and "DROP ME" in res.alto_xml
    assert "DROP ME" not in res.page_xml


def test_kernel_failure_states():
    assert kernel.process_media(None, None, "x").state == "NOT_FOUND"
    assert (
        kernel.process_media(b"garbage", "image/png", "x").state
        == "INVALID_FILE"
    )
    assert (
        kernel.process_media(b"%PDF-1.4", "application/pdf", "x").state
        == "INVALID_FILE"
    )
    # kinds with no decoder fail as a row state, never an exception
    # that would crash the whole Arrow batch
    for blob, kind in (
        (b"RIFF0000WAVE", "audio/wav"),
        (b"\x00\x00\x00 ftypmp42", "video/mp4"),
    ):
        res = kernel.process_media(blob, kind, "x")
        assert res.state == "INVALID_FILE"
        assert "unsupported media_kind" in res.error
    # oversized image → PROCESSING_FAILED via MAX_MEGAPIXELS guard
    big = np.full((2600, 2100), 255, dtype=np.uint8)
    res = kernel.process_media(png.encode_gray(big), "image/png", "x")
    assert res.state == "PROCESSING_FAILED"
    assert "MP" in res.error
