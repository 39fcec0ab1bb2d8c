"""Deterministic fixed-pitch glyph font: render + template decode.

Stand-in for the external ``pero_ocr`` OCR models (the reference only
*invokes* them — ``processing_client/run_client.py:20-22,201``; the
nets themselves are not part of the reference repo). Here "OCR" is
template matching over a 5x7 bitmap font, which keeps the whole media
path numpy-only, bit-deterministic, and batchable.

Contracts relied on by the layout/decode stages:

* fixed pitch — every glyph cell is ``(GLYPH_W + 1) * scale`` px wide
  and ``GLYPH_H * scale`` px tall; spaces are empty cells;
* every glyph has ink in bitmap row 0 and column 0 (asserted in
  tests), so a line's bounding box anchors the cell grid exactly;
* noise is *gray-level only* (ink pixels get values in
  ``[0, 255*noise)``, background stays 255), so binarization at
  :data:`BINARIZE_THRESHOLD` recovers the exact glyph structure while
  the mean ink level carries the per-line confidence signal.
"""

from __future__ import annotations

import numpy as np

GLYPH_W = 5
GLYPH_H = 7
# horizontal advance in glyph-grid columns (5 ink + 1 gap)
PITCH = GLYPH_W + 1
# vertical advance between lines in glyph-grid rows (7 ink + 2 gap)
LINE_ADVANCE = GLYPH_H + 2

# pixels per glyph-grid unit, shared by the corpus renderer and the
# kernel's layout stage (reference LINE_HEIGHT=40, model.py:171-175:
# 7-row glyphs plus padding at scale 5)
SCALE = 5

BINARIZE_THRESHOLD = 192
MAX_NOISE = 0.74  # keeps max ink value < BINARIZE_THRESHOLD

_FONT_ROWS = {
    "A": [" ### ", "#   #", "#   #", "#####", "#   #", "#   #", "#   #"],
    "B": ["#### ", "#   #", "#   #", "#### ", "#   #", "#   #", "#### "],
    "C": [" ### ", "#   #", "#    ", "#    ", "#    ", "#   #", " ### "],
    "D": ["#### ", "#   #", "#   #", "#   #", "#   #", "#   #", "#### "],
    "E": ["#####", "#    ", "#    ", "#### ", "#    ", "#    ", "#####"],
    "F": ["#####", "#    ", "#    ", "#### ", "#    ", "#    ", "#    "],
    "G": [" ### ", "#   #", "#    ", "# ###", "#   #", "#   #", " ####"],
    "H": ["#   #", "#   #", "#   #", "#####", "#   #", "#   #", "#   #"],
    "I": ["#####", "  #  ", "  #  ", "  #  ", "  #  ", "  #  ", "#####"],
    "J": ["#####", "   # ", "   # ", "   # ", "   # ", "#  # ", " ##  "],
    "K": ["#   #", "#  # ", "# #  ", "##   ", "# #  ", "#  # ", "#   #"],
    "L": ["#    ", "#    ", "#    ", "#    ", "#    ", "#    ", "#####"],
    "M": ["#   #", "## ##", "# # #", "# # #", "#   #", "#   #", "#   #"],
    "N": ["#   #", "##  #", "# # #", "#  ##", "#   #", "#   #", "#   #"],
    "O": [" ### ", "#   #", "#   #", "#   #", "#   #", "#   #", " ### "],
    "P": ["#### ", "#   #", "#   #", "#### ", "#    ", "#    ", "#    "],
    "Q": [" ### ", "#   #", "#   #", "#   #", "# # #", "#  # ", " ## #"],
    "R": ["#### ", "#   #", "#   #", "#### ", "# #  ", "#  # ", "#   #"],
    "S": [" ####", "#    ", "#    ", " ### ", "    #", "    #", "#### "],
    "T": ["#####", "  #  ", "  #  ", "  #  ", "  #  ", "  #  ", "  #  "],
    "U": ["#   #", "#   #", "#   #", "#   #", "#   #", "#   #", " ### "],
    "V": ["#   #", "#   #", "#   #", "#   #", "#   #", " # # ", "  #  "],
    "W": ["#   #", "#   #", "#   #", "# # #", "# # #", "## ##", "#   #"],
    "X": ["#   #", "#   #", " # # ", "  #  ", " # # ", "#   #", "#   #"],
    "Y": ["#   #", "#   #", " # # ", "  #  ", "  #  ", "  #  ", "  #  "],
    "Z": ["#####", "    #", "   # ", "  #  ", " #   ", "#    ", "#####"],
    "0": [" ### ", "#   #", "#  ##", "# # #", "##  #", "#   #", " ### "],
    "1": ["# #  ", " ##  ", "  #  ", "  #  ", "  #  ", "  #  ", "#####"],
    "2": [" ### ", "#   #", "    #", "   # ", "  #  ", " #   ", "#####"],
    "3": ["#####", "    #", "   # ", "  ## ", "    #", "#   #", " ### "],
    "4": ["#  # ", "#  # ", "#  # ", "#####", "   # ", "   # ", "   # "],
    "5": ["#####", "#    ", "#### ", "    #", "    #", "#   #", " ### "],
    "6": [" ### ", "#    ", "#    ", "#### ", "#   #", "#   #", " ### "],
    "7": ["#####", "    #", "   # ", "  #  ", " #   ", " #   ", " #   "],
    "8": [" ### ", "#   #", "#   #", " ### ", "#   #", "#   #", " ### "],
    "9": [" ### ", "#   #", "#   #", " ####", "    #", "    #", " ### "],
}

ALPHABET = "".join(sorted(_FONT_ROWS))
_ALPHABET_ARR = np.array(list(ALPHABET))


def _bitmap(rows: list[str]) -> np.ndarray:
    return np.array([[c == "#" for c in row] for row in rows], dtype=bool)


FONT: dict[str, np.ndarray] = {ch: _bitmap(rows) for ch, rows in _FONT_ROWS.items()}

# stacked template tensor for vectorized matching: (n_glyphs, 7, 5)
TEMPLATES = np.stack([FONT[ch] for ch in ALPHABET])
# flattened float form + per-template ink counts for matmul matching
_TEMPLATES_F = TEMPLATES.reshape(len(ALPHABET), GLYPH_H * GLYPH_W).astype(
    np.float32
)
_TEMPLATES_ONES = _TEMPLATES_F.sum(axis=1)


def render_line(
    text: str, scale: int, noise: float, rng: np.random.RandomState
) -> np.ndarray:
    """Render one text line; returns (7*scale, len(text)*6*scale) uint8.

    Background 255; ink pixels drawn at deterministic gray levels in
    ``[0, 255*noise)`` (0 when ``noise == 0``).
    """
    if noise < 0 or noise > MAX_NOISE:
        raise ValueError(f"noise must be in [0, {MAX_NOISE}]")
    h = GLYPH_H * scale
    w = len(text) * PITCH * scale
    canvas = np.full((h, w), 255, dtype=np.uint8)
    for i, ch in enumerate(text):
        if ch == " ":
            continue
        bitmap = FONT[ch]  # KeyError = unsupported char, caller's bug
        cell = np.kron(bitmap, np.ones((scale, scale), dtype=bool))
        x0 = i * PITCH * scale
        ink = np.zeros(cell.shape, dtype=np.uint8)
        if noise > 0:
            ink = (rng.random_sample(cell.shape) * 255 * noise).astype(np.uint8)
        region = canvas[:, x0 : x0 + GLYPH_W * scale]
        region[cell] = ink[cell]
    return canvas


def decode_cells(line_img: np.ndarray, scale: int) -> tuple[str, float]:
    """Decode one line image back to (text, confidence) — vectorized
    over all cells at once (one reshape + one template matmul per
    line; no per-glyph Python loop).

    ``line_img`` must be the exact line bounding box: height
    ``7*scale``, width a multiple of ``6*scale`` (trailing partial gap
    column tolerated). Confidence = ``1 - 2 * mean(ink)/255`` over ink
    pixels (≈ ``1 - noise``), 1.0 for an all-space line.
    """
    h, w = line_img.shape
    if h != GLYPH_H * scale:
        raise ValueError(f"line height {h} != {GLYPH_H * scale}")
    n_cells = int(round(w / (PITCH * scale)))
    full_w = n_cells * PITCH * scale
    if w < full_w:  # pad ragged tail with background
        pad = np.full((h, full_w - w), 255, dtype=line_img.dtype)
        line_img = np.hstack([line_img, pad])
    # block-mean downsample to the 7x5 grid; integer form of mean>0.5
    # (sum*2 > scale^2) — exact, no float conversion. Pairwise ufunc
    # adds over strided views of the zero-copy bool→uint8 view instead
    # of reshape+axis-reduce (same values; measured ~3x — ufunc add on
    # row-aligned views SIMD-vectorizes where the small-axis reduce
    # does not, the _pool_ink lesson). Sums fit uint8 (≤ scale², gap
    # columns included then dropped).
    B = (line_img < BINARIZE_THRESHOLD).view(np.uint8)
    if scale >= 16:  # scale² would overflow the uint8 accumulators
        B = B.astype(np.uint16)
    cs = B[:, 0::scale]
    for j in range(1, scale):
        cs = cs + B[:, j::scale]
    rs = cs[0::scale]
    for i in range(1, scale):
        rs = rs + cs[i::scale]
    # rs: (7, 6*n_cells) block sums; drop each cell's gap column block,
    # reorder to (n_cells, 7, 5)
    counts = (
        rs.reshape(GLYPH_H, n_cells, PITCH)[:, :, :GLYPH_W]
        .transpose(1, 0, 2)
        .astype(np.int32)
    )
    nonempty = counts.any(axis=(1, 2))
    small = counts * 2 > scale * scale
    # template match via matmul: agreement = 35 - |s|1 - |t|1 + 2<s,t>,
    # argmax over templates == argmax(2<s,t> - |t|1) (|s|1 constant per
    # cell) — same ordering and tie-break as the hamming-mean form
    sf = small.reshape(n_cells, GLYPH_H * GLYPH_W).astype(np.float32)
    best = (2.0 * (sf @ _TEMPLATES_F.T) - _TEMPLATES_ONES).argmax(axis=1)
    chars = np.where(nonempty, _ALPHABET_ARR[best], " ")
    text = "".join(chars.tolist()).rstrip(" ")
    # exact identity replacing the boolean fancy-index gray[cells]:
    # non-ink pixels are all 255 and ink never falls in gap columns
    # (render contract: gaps/padding stay background, ink < threshold),
    # so sum(gray over ink) == sum(whole line) - 255*(n_pixels - n_ink)
    # — one contiguous sum over the raw line, no strided gray view
    n_ink = int(counts.sum())
    if n_ink:
        ink_gray_sum = int(line_img.sum(dtype=np.int64)) - 255 * (
            line_img.size - n_ink
        )
        mean_ink = float(ink_gray_sum) / n_ink
        conf = max(0.0, min(1.0, 1.0 - 2.0 * mean_ink / 255.0))
    else:
        conf = 1.0
    return text, round(conf, 4)
