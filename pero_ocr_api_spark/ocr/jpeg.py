"""Minimal baseline-JPEG codec (8-bit grayscale, numpy-only).

The sandbox has no Pillow/libjpeg, so `image/jpeg` media bytes are
produced and consumed by this codec — the third real media codec next
to ocr/png.py and ocr/pdf.py, replacing the reference's
``cv2.imdecode`` for the commonest real-world raster format
(``processing_client/run_client.py:192-193``; JPEG is also the payload
of the PDF ``/DCTDecode`` filter, i.e. the scanned-PDF case that is
pero-ocr's home turf).

Supported subset (honestly bounded — ITU T.81 baseline):

* SOF0 (baseline sequential DCT), 8-bit precision, exactly ONE
  component (grayscale), 1x1 sampling;
* 8-bit quantization tables (DQT Pq=0), Huffman entropy coding with
  tables read from the file's own DHT segments;
* APPn/COM segments skipped.

Outside the subset — progressive (SOF2) and every other SOFn, multi-
component / chroma-subsampled images, 16-bit DQT, arithmetic coding
(DAC), restart intervals (DRI/RSTn) — raises :class:`JpegError`, which
the kernel maps to ``INVALID_FILE``: one bad file never kills a task.

:func:`encode_gray` writes a spec-valid baseline JFIF file using the
standard Annex-K luminance Huffman tables and (by default) a
flat-ones quantization table, so the fixture roundtrip is near-lossless
(only DCT float rounding, |err| <= ~2 gray levels) — the OCR golden
suite reads its glyphs back unharmed while still exercising a real
entropy-coded JPEG. The decoder builds its Huffman tables from the
file's DHT, so any well-formed baseline grayscale JPEG decodes, not
just our fixtures.

Performance note: entropy decode is inherently bit-serial; the decoder
keeps it tractable the way real decoders do — a 16-bit-lookahead
Huffman LUT (one table index per SYMBOL, not per bit) over an integer
bit accumulator, with the stuffed-byte scan and all DCT/dequant math
vectorized in numpy. The encoder walks only the NONZERO coefficients
per block (flatnonzero), so mostly-white page blocks cost O(1). The
extraction pipeline's media decode runs inside Arrow-batched
``mapInPandas`` workers, so per-image Python here parallelizes across
the cluster exactly like the PNG/PDF paths.
"""

from __future__ import annotations

import struct
from functools import lru_cache

import numpy as np


class JpegError(ValueError):
    """Raised on malformed or outside-subset input — maps to the
    INVALID_FILE failure class (reference run_client.py:316-319)."""


# ---------------------------------------------------------------- tables ---

# zigzag scan order: index i of the scan -> (row, col) flat index
_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# standard luminance Huffman tables (ITU T.81 Annex K — public spec)
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

_FLAT_QUANT = np.ones(64, dtype=np.int64)  # near-lossless fixture default


def _dct_matrix() -> np.ndarray:
    n = np.arange(8)
    c = np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16.0)
    c *= np.sqrt(2.0 / 8.0)
    c[0, :] = np.sqrt(1.0 / 8.0)
    return c


_C = _dct_matrix()


def _canonical_codes(bits, vals) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the JPEG canonical construction.
    A table declaring more codes at a length than the code space holds
    (e.g. 17 codes of length 1) is malformed — typed error, never an
    IndexError downstream (review finding)."""
    if len(bits) < 16 or sum(bits) != len(vals):
        raise JpegError("malformed DHT (bits/values mismatch)")
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if code >= (1 << length):
                raise JpegError("malformed DHT (code space overflow)")
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


# ---------------------------------------------------------------- encoder ---


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._nbits = 0

    def put(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._nbits += length
        while self._nbits >= 8:
            self._nbits -= 8
            b = (self._acc >> self._nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)
        self._acc &= (1 << self._nbits) - 1

    def flush(self) -> None:
        if self._nbits:
            pad = 8 - self._nbits
            self.put((1 << pad) - 1, pad)


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload


def encode_gray(img: np.ndarray, quant: np.ndarray | None = None) -> bytes:
    """Encode a HxW uint8 array as a baseline grayscale JPEG. The
    default flat-ones quantization table makes the roundtrip
    near-lossless (DCT float rounding only)."""
    if img.ndim != 2 or img.dtype != np.uint8:
        raise ValueError("encode_gray expects HxW uint8")
    q = _FLAT_QUANT if quant is None else np.asarray(quant, dtype=np.int64)
    if q.shape != (64,) or q.min() < 1 or q.max() > 255:
        raise ValueError("quant must be 64 values in 1..255 (zigzag order)")
    h, w = img.shape
    if h < 1 or w < 1:
        raise ValueError("empty image")
    ph, pw = (-h) % 8, (-w) % 8
    padded = np.pad(img, ((0, ph), (0, pw)), mode="edge").astype(np.float64)
    padded -= 128.0
    bh, bw = padded.shape[0] // 8, padded.shape[1] // 8
    # blockwise 2D DCT: one einsum over all blocks
    blocks = padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
    coefs = np.einsum("ij,abjk,lk->abil", _C, blocks, _C)
    qtab = q[np.argsort(_ZIGZAG)].reshape(8, 8).astype(np.float64)
    quantized = np.round(coefs / qtab).astype(np.int64)

    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)
    zz = quantized.reshape(bh * bw, 64)[:, _ZIGZAG]
    bw_out = _BitWriter()
    put = bw_out.put
    prev_dc = 0
    for row in zz:
        dc = int(row[0])
        diff = dc - prev_dc
        prev_dc = dc
        s = _category(diff)
        code, length = dc_codes[s]
        put(code, length)
        if s:
            put(diff if diff > 0 else diff + (1 << s) - 1, s)
        # walk only the nonzero AC coefficients: mostly-white page
        # blocks cost O(1) instead of 63 iterations
        nz = np.flatnonzero(row[1:]) + 1
        last = 0
        for k in nz:
            k = int(k)
            run = k - last - 1
            last = k
            while run > 15:
                code, length = ac_codes[0xF0]  # ZRL
                put(code, length)
                run -= 16
            v = int(row[k])
            s = _category(v)
            code, length = ac_codes[(run << 4) | s]
            put(code, length)
            put(v if v > 0 else v + (1 << s) - 1, s)
        if last < 63:
            code, length = ac_codes[0x00]  # EOB
            put(code, length)
    bw_out.flush()

    dqt = bytes([0x00]) + bytes(int(x) for x in q)
    sof = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    dht_dc = bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)
    dht_ac = bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    return (
        b"\xff\xd8"
        + _seg(0xFFDB, dqt)
        + _seg(0xFFC0, sof)
        + _seg(0xFFC4, dht_dc)
        + _seg(0xFFC4, dht_ac)
        + _seg(0xFFDA, sos)
        + bytes(bw_out.out)
        + b"\xff\xd9"
    )


# ---------------------------------------------------------------- decoder ---


def _unstuff(data: bytes) -> bytes:
    """Validate and strip byte stuffing from the entropy segment:
    0xFF 0x00 -> 0xFF; 0xFF 0xD9 ends the stream; runs of 0xFF
    immediately before the EOI are spec-legal optional fill
    (T.81 B.1.1.2 — real encoders emit them) and are excluded from the
    entropy data; any other marker is outside the subset (RSTn) or
    malformed. Vectorized — one numpy scan instead of a per-byte
    Python loop."""
    buf = np.frombuffer(data, dtype=np.uint8)
    ff = np.flatnonzero(buf == 0xFF)
    end = len(buf)
    run_start = -1  # start of a pending 0xFF fill run
    prev_ff = -2
    for i in ff:
        if i + 1 >= len(buf):
            raise JpegError("entropy stream truncated at 0xFF")
        nxt = buf[i + 1]
        in_run = run_start >= 0 and i == prev_ff + 1
        if nxt == 0xFF:
            # candidate fill byte — only legal if the run terminates in
            # a marker; decided when the run's last 0xFF is reached
            if not in_run:
                run_start = int(i)
            prev_ff = int(i)
            continue
        if nxt == 0x00:
            if in_run:
                raise JpegError("0xFF fill bytes before non-marker data")
            run_start = -1
            continue
        if nxt == 0xD9:  # EOI; exclude any preceding fill run
            end = run_start if in_run else int(i)
            break
        if 0xD0 <= nxt <= 0xD7:
            raise JpegError("restart markers (DRI/RSTn) outside subset")
        raise JpegError("unexpected marker inside entropy data")
    return data[:end].replace(b"\xff\x00", b"\xff")


@lru_cache(maxsize=32)
def _lookup16(table_bits: tuple, table_vals: tuple):
    """16-bit-lookahead Huffman LUT: two 65536-entry Python lists
    (symbol, code length) — ONE list index per decoded symbol. The
    canonical-code property guarantees every 16-bit window whose
    prefix is a valid code maps to exactly one symbol. Memoized on the
    table contents: virtually every file ships the standard Annex-K
    tables, so the ~260k LUT writes are paid once per worker, not per
    image (review finding). Callers must not mutate the lists."""
    syms = [-1] * 65536
    lens = [0] * 65536
    for sym, (code, length) in _canonical_codes(table_bits, table_vals).items():
        base = code << (16 - length)
        for i in range(1 << (16 - length)):
            syms[base + i] = sym
            lens[base + i] = length
    return syms, lens


def decode_gray(data: bytes) -> np.ndarray:
    """Decode a baseline grayscale JPEG to HxW uint8. Progressive,
    multi-component, subsampled, 16-bit-DQT, arithmetic-coded, and
    restart-interval files raise :class:`JpegError`."""
    data = bytes(data)
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise JpegError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], tuple[tuple, tuple]] = {}
    h = w = None
    comp_q = comp_dc = comp_ac = 0
    scan_start = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise JpegError(f"expected marker at byte {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI before SOS
            break
        (seg_len,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        payload = data[pos + 4 : pos + 2 + seg_len]
        if len(payload) != seg_len - 2:
            raise JpegError("truncated segment")
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(payload):
                pq, tq = payload[i] >> 4, payload[i] & 0x0F
                if pq != 0:
                    raise JpegError("16-bit quantization tables outside subset")
                if i + 65 > len(payload):
                    raise JpegError("truncated DQT")
                qtabs[tq] = np.frombuffer(
                    payload[i + 1 : i + 65], dtype=np.uint8
                ).astype(np.int64)
                i += 65
        elif marker == 0xC0:  # SOF0 baseline
            if len(payload) < 9:
                raise JpegError("truncated SOF")
            prec, h, w, ncomp = struct.unpack(">BHHB", payload[:6])
            if prec != 8:
                raise JpegError("non-8-bit precision outside subset")
            if ncomp != 1:
                raise JpegError("multi-component (color) JPEG outside subset")
            cid, sampling, comp_q = payload[6], payload[7], payload[8]
            if sampling != 0x11:
                raise JpegError("subsampled JPEG outside subset")
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise JpegError("non-baseline SOF (progressive/extended) outside subset")
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            i = 0
            while i < len(payload):
                if i + 17 > len(payload):
                    raise JpegError("truncated DHT")
                tc, th = payload[i] >> 4, payload[i] & 0x0F
                bits = tuple(payload[i + 1 : i + 17])
                nvals = sum(bits)
                vals = tuple(payload[i + 17 : i + 17 + nvals])
                if len(vals) != nvals:
                    raise JpegError("truncated DHT")
                _canonical_codes(bits, vals)  # validate at parse time
                huff[(tc, th)] = (bits, vals)
                i += 17 + nvals
        elif marker == 0xCC:
            raise JpegError("arithmetic coding outside subset")
        elif marker == 0xDD:
            raise JpegError("restart interval (DRI) outside subset")
        elif marker == 0xDA:  # SOS
            if len(payload) < 4:
                raise JpegError("truncated SOS")
            ncomp_s = payload[0]
            if ncomp_s != 1:
                raise JpegError("multi-component scan outside subset")
            comp_dc, comp_ac = payload[2] >> 4, payload[2] & 0x0F
            scan_start = pos + 2 + seg_len
            break
        # APPn / COM / others: skip
        pos += 2 + seg_len
    if scan_start is None or h is None:
        raise JpegError("missing SOF/SOS")
    if comp_q not in qtabs:
        raise JpegError("missing quantization table")
    if (0, comp_dc) not in huff or (1, comp_ac) not in huff:
        raise JpegError("missing Huffman tables")

    qtab = qtabs[comp_q][np.argsort(_ZIGZAG)].reshape(8, 8).astype(np.float64)
    dc_syms, dc_lens = _lookup16(*huff[(0, comp_dc)])
    ac_syms, ac_lens = _lookup16(*huff[(1, comp_ac)])
    bh, bw = -(-h // 8), -(-w // 8)

    # integer bit accumulator over the unstuffed entropy bytes; the
    # Huffman LUT peeks a 16-bit window (zero-padded past stream end —
    # a fake code assembled from padding fails the consume check)
    ent = _unstuff(data[scan_start:])
    nbytes = len(ent)
    total_bits = nbytes * 8
    acc = 0
    have = 0
    ptr = 0
    pos = 0
    # Entropy decode accumulates (flat index, value) into Python lists
    # and scatters into the coefficient plane ONCE at the end: a numpy
    # scalar store per symbol (zz_all[bi][k] = v) costs ~10x a list
    # append, and most coefficients are zero anyway (the encoder's
    # flatnonzero walk is the mirror image). The sign extension
    # (T.81 EXTEND) is inlined — one function call per symbol was ~15%
    # of the loop.
    idxs: list[int] = []
    vals: list[int] = []
    prev_dc = 0
    for base in range(0, bh * bw * 64, 64):
        # --- DC symbol
        while have < 16 and ptr < nbytes:
            acc = (acc << 8) | ent[ptr]
            ptr += 1
            have += 8
        w16 = (
            (acc >> (have - 16)) & 0xFFFF
            if have >= 16
            else (acc << (16 - have)) & 0xFFFF
        )
        s = dc_syms[w16]
        if s < 0 or s > 11:
            raise JpegError("invalid DC Huffman code")
        length = dc_lens[w16]
        if pos + length + s > total_bits:
            raise JpegError("entropy stream truncated")
        have -= length
        pos += length
        if s:
            while have < s:
                acc = (acc << 8) | ent[ptr]
                ptr += 1
                have += 8
            bits = (acc >> (have - s)) & ((1 << s) - 1)
            prev_dc += (
                bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1
            )
            have -= s
            pos += s
        acc &= (1 << have) - 1
        idxs.append(base)
        vals.append(prev_dc)
        # --- AC symbols
        k = 1
        while k < 64:
            while have < 16 and ptr < nbytes:
                acc = (acc << 8) | ent[ptr]
                ptr += 1
                have += 8
            w16 = (
                (acc >> (have - 16)) & 0xFFFF
                if have >= 16
                else (acc << (16 - have)) & 0xFFFF
            )
            rs = ac_syms[w16]
            if rs < 0:
                raise JpegError("invalid AC Huffman code")
            length = ac_lens[w16]
            s = rs & 0x0F
            if pos + length + s > total_bits:
                raise JpegError("entropy stream truncated")
            have -= length
            pos += length
            if rs == 0x00:  # EOB
                acc &= (1 << have) - 1
                break
            if rs == 0xF0:  # ZRL
                acc &= (1 << have) - 1
                k += 16
                continue
            if not s:  # size 0 means only EOB or ZRL (T.81 F.1.2.2)
                raise JpegError("invalid AC symbol (size 0)")
            k += rs >> 4
            if k > 63:
                raise JpegError("AC run past block end")
            while have < s:
                acc = (acc << 8) | ent[ptr]
                ptr += 1
                have += 8
            bits = (acc >> (have - s)) & ((1 << s) - 1)
            idxs.append(base + k)
            vals.append(
                bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1
            )
            have -= s
            pos += s
            acc &= (1 << have) - 1
            k += 1
    zz_all = np.zeros(bh * bw * 64, dtype=np.int64)
    if idxs:
        zz_all[np.array(idxs, dtype=np.int64)] = np.array(
            vals, dtype=np.int64
        )
    zz_all = zz_all.reshape(bh * bw, 64)
    blocks = np.zeros((bh * bw, 64), dtype=np.float64)
    blocks[:, _ZIGZAG] = zz_all
    out_coefs = blocks.reshape(bh, bw, 8, 8) * qtab
    pix = np.einsum("ji,abjk,kl->abil", _C, out_coefs, _C)
    img = pix.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8) + 128.0
    return np.clip(np.round(img), 0, 255).astype(np.uint8)[:h, :w]
