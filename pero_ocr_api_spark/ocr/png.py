"""Minimal deterministic PNG codec (8-bit grayscale, stdlib-only).

The sandbox has no Pillow/OpenCV, so media bytes are produced and
consumed by this codec. It replaces the reference's
``cv2.imdecode(np.frombuffer(...))`` decode step
(``processing_client/run_client.py:192-193``). Encoder always writes
filter-0 scanlines; the decoder handles all five PNG filters so any
well-formed 8-bit grayscale, non-interlaced PNG decodes.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_gray(img: np.ndarray) -> bytes:
    """Encode a HxW uint8 array as a grayscale PNG."""
    if img.ndim != 2 or img.dtype != np.uint8:
        raise ValueError("encode_gray expects HxW uint8")
    h, w = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    raw = np.empty((h, w + 1), dtype=np.uint8)
    raw[:, 0] = 0  # filter type 0 per scanline
    raw[:, 1:] = img
    idat = zlib.compress(raw.tobytes(), level=6)
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


class PngError(ValueError):
    """Raised on malformed input — maps to the INVALID_FILE failure
    class (reference ``run_client.py:316-319``)."""


def decode_gray(data: bytes) -> np.ndarray:
    if not data or not bytes(data[:8]) == _SIGNATURE:
        raise PngError("not a PNG")
    pos = 8
    width = height = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = bytes(data[pos + 4 : pos + 8])
        payload = bytes(data[pos + 8 : pos + 8 + length])
        if len(payload) != length:
            raise PngError("truncated chunk")
        if tag == b"IHDR":
            if length != 13:
                raise PngError("bad IHDR length")
            width, height, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if depth != 8 or ctype != 0 or interlace != 0:
                raise PngError("unsupported PNG variant")
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if width is None or not idat:
        raise PngError("missing IHDR/IDAT")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:  # corrupt stream
        raise PngError(f"bad IDAT: {exc}") from exc
    stride = width + 1
    if len(raw) != stride * height:
        raise PngError("bad scanline size")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride)
    filters = rows[:, 0]
    if not filters.any():  # fast path: all filter 0 (our encoder)
        return np.ascontiguousarray(rows[:, 1:])  # single copy pass
    out = np.zeros((height, width), dtype=np.uint8)
    for y in range(height):
        f = filters[y]
        line = rows[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(width, np.int32)
        if f == 0:
            rec = line
        elif f == 2:  # Up
            rec = (line + prev) & 0xFF
        elif f in (1, 3, 4):  # Sub / Average / Paeth need a scan
            rec = np.zeros(width, np.int32)
            for x in range(width):
                a = rec[x - 1] if x > 0 else 0
                b = prev[x]
                c = prev[x - 1] if x > 0 else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (line[x] + pred) & 0xFF
        else:
            raise PngError(f"bad filter {f}")
        out[y] = rec.astype(np.uint8)
    return out
