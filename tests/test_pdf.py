"""Digital-text PDF codec: writer↔extractor roundtrips, escape and
filter edge cases, malformed-input refusal, and kernel integration
(the second real media decode path next to PNG)."""

from __future__ import annotations

import zlib

import pytest

from pero_ocr_api_spark.ocr import pdf
from pero_ocr_api_spark.ocr.kernel import process_media


def test_roundtrip_plain():
    lines = ["hello world", "second line", "third"]
    assert pdf.extract_text(pdf.encode_text_pdf(lines)) == lines


def test_roundtrip_escapes_and_specials():
    lines = [
        r"parens (nested (deep)) and back\slash",
        "tabs\tand percent % signs",
        "",
        "trailing",
    ]
    assert pdf.extract_text(pdf.encode_text_pdf(lines)) == lines


def test_fixture_is_a_real_pdf():
    """Writer output must be structurally valid: header, xref,
    trailer, Flate stream that standard tooling could open."""
    b = pdf.encode_text_pdf(["x"])
    assert b.startswith(b"%PDF-1.4")
    assert b.rstrip().endswith(b"%%EOF")
    assert b"/FlateDecode" in b and b"xref" in b and b"/Root 1 0 R" in b


def test_uncompressed_stream_and_tj_array():
    """Hand-built content stream: TJ arrays (kerned show) concatenate,
    T* breaks lines, ' shows on a new line, hex strings decode."""
    content = (
        b"BT /F1 12 Tf 72 720 Td [(Hel) -20 (lo)] TJ T* (world) Tj "
        b"(next) ' <21> Tj ET"
    )
    body = (
        b"%PDF-1.4\n1 0 obj\n<< /Length "
        + str(len(content)).encode()
        + b" >>\nstream\n"
        + content
        + b"\nendstream\nendobj\n"
    )
    assert pdf.extract_text(body) == ["Hello", "world", "next!"]


@pytest.mark.parametrize(
    "data",
    [
        b"not a pdf at all",
        b"%PDF-1.4 fake",  # no content stream (the corpus bad-kind doc)
        b"%PDF-1.4\n1 0 obj\n<< /Filter /FlateDecode /Length 5 >>\n"
        b"stream\nAAAAA\nendstream\nendobj\n",  # bad zlib data
        b"%PDF-1.4\n1 0 obj\n<< /Filter /LZWDecode /Length 2 >>\n"
        b"stream\nAA\nendstream\nendobj\n",  # truncated LZW (no EOD)
        b"%PDF-1.4\n/Encrypt << >>\n1 0 obj\n<< /Length 2 >>\n"
        b"stream\nBT\nendstream\nendobj\n",  # encrypted
    ],
)
def test_malformed_raises(data):
    with pytest.raises(pdf.PdfError):
        pdf.extract_text(data)


def test_kernel_pdf_processed():
    lines = ["alpha", "beta gamma"]
    res = process_media(pdf.encode_text_pdf(lines), "application/pdf", "m1")
    assert res.state == "PROCESSED"
    assert res.text == "alpha\nbeta gamma"
    assert res.confidences == [1.0, 1.0]  # digital text: per-line 1.0
    assert "alpha" in res.alto_xml and "alpha" in res.page_xml
    assert res.txt.splitlines() == lines


def test_kernel_pdf_malformed_is_invalid_file():
    res = process_media(b"%PDF-1.4 fake", "application/pdf", "m2")
    assert res.state == "INVALID_FILE"
    assert res.error


def test_kernel_pdf_confidence_filter_keeps_digital_text():
    """min_confidence 0.42 must not drop confidence-1.0 lines, and a
    raised threshold above 1.0 drops them all."""
    b = pdf.encode_text_pdf(["keep me"])
    kept = process_media(b, "application/pdf", "m3")
    assert kept.confidences == [1.0]
    dropped = process_media(b, "application/pdf", "m3", min_confidence=1.5)
    assert dropped.state == "PROCESSED"
    assert dropped.confidences == [] and dropped.text == ""


def test_length_slicing_survives_endstream_in_data():
    """A Flate stream whose bytes happen to contain 'endstream' must
    still slice correctly via /Length."""
    content = b"BT (ok) Tj ET " + b"endstream" + b" % noise"
    comp = zlib.compress(content)
    body = (
        b"%PDF-1.4\n1 0 obj\n<< /Filter /FlateDecode /Length "
        + str(len(comp)).encode()
        + b" >>\nstream\n"
        + comp
        + b"\nendstream\nendobj\n"
    )
    assert pdf.extract_text(body) == ["ok"]


def test_length_verified_slice_never_stripped():
    """ADVICE r3 (high): a Flate payload that legitimately ends in
    0x0A/0x0D must survive a /Length-verified slice unmodified —
    rstrip there corrupted ~1.5% of valid writer outputs."""
    # sweep line sets so some compressed payloads end in \n or \r
    # (the reported reproducer ['line one 11','second'] is in range)
    for i in range(200):
        lines = [f"line one {i}", "second"]
        assert pdf.extract_text(pdf.encode_text_pdf(lines)) == lines


def test_tail_byte_flate_roundtrip_exact():
    """Directly construct a Flate stream ending in 0x0A and verify the
    /Length slice returns it intact."""
    content = None
    for i in range(5000):
        c = zlib.compress(f"BT (payload {i}) Tj ET".encode(), 9)
        if c.endswith(b"\n") or c.endswith(b"\r"):
            content = (i, c)
            break
    assert content is not None, "no trailing-EOL compressed payload found"
    i, comp = content
    body = (
        b"%PDF-1.4\n1 0 obj\n<< /Filter /FlateDecode /Length "
        + str(len(comp)).encode()
        + b" >>\nstream\n"
        + comp
        + b"\nendstream\nendobj\n"
    )
    assert pdf.extract_text(body) == [f"payload {i}"]


def test_backslash_non_octal_digit_emits_char():
    """Spec: backslash before a non-octal digit drops the backslash and
    keeps the character — it must not raise (ADVICE r3)."""
    content = rb"BT (a\800 b\9) Tj ET"
    body = (
        b"%PDF-1.4\n1 0 obj\n<< /Length "
        + str(len(content)).encode()
        + b" >>\nstream\n"
        + content
        + b"\nendstream\nendobj\n"
    )
    assert pdf.extract_text(body) == ["a800 b9"]


def test_encrypt_in_content_text_is_not_encryption():
    """'/Encrypt' appearing inside a content stream's text must not
    reject the file — only the trailer/xref dict declares encryption
    (ADVICE r3)."""
    lines = ["the /Encrypt key is a PDF concept"]
    assert pdf.extract_text(pdf.encode_text_pdf(lines)) == lines


def test_encrypt_in_trailer_still_rejected():
    b = bytearray(pdf.encode_text_pdf(["x"]))
    t = bytes(b).rfind(b"trailer")
    body = bytes(b[: t + len(b"trailer\n<< ")]) + b"/Encrypt 9 0 R " + bytes(
        b[t + len(b"trailer\n<< ") :]
    )
    with pytest.raises(pdf.PdfError):
        pdf.extract_text(body)


# --- widened subset: ASCIIHex + filter cascades + PDF 1.5 ObjStm/XRef ------


def test_ascii_hex_roundtrip():
    lines = ["hex encoded", "second (line)"]
    b = pdf.encode_text_pdf_hex(lines)
    assert b"/ASCIIHexDecode" in b
    assert pdf.extract_text(b) == lines


def test_ascii_hex_flate_cascade_roundtrip():
    """[/ASCIIHexDecode /FlateDecode]: filters applied in array order."""
    lines = ["cascade of filters", "tab\there"]
    b = pdf.encode_text_pdf_hex(lines, cascade=True)
    assert b"[/ASCIIHexDecode /FlateDecode]" in b
    assert pdf.extract_text(b) == lines


def test_ascii_hex_odd_length_implies_trailing_zero():
    """Spec: odd-length hex data implies a final 0 digit — 'BT (hi) Tj
    ET' with its last digit dropped decodes to '... EP' ('T'=0x54 →
    0x50='P'), which still tokenizes (unknown op) and yields the text."""
    content = b"BT (hi) Tj ET"
    payload = content[:-1].hex().encode() + b"5>"  # odd: implies 0x50
    body = (
        b"%PDF-1.4\n1 0 obj\n<< /Filter /ASCIIHexDecode /Length "
        + str(len(payload)).encode()
        + b" >>\nstream\n"
        + payload
        + b"\nendstream\nendobj\n"
    )
    assert pdf.extract_text(body) == ["hi"]


def test_objstm_pdf15_roundtrip():
    lines = ["object streams", "cross-reference stream", "third line"]
    b = pdf.encode_text_pdf_objstm(lines)
    assert b.startswith(b"%PDF-1.5")
    assert b"/Type /ObjStm" in b and b"/Type /XRef" in b
    assert b"trailer" not in b  # xref stream replaces the classic trailer
    assert pdf.extract_text(b) == lines


def test_objstm_kernel_integration():
    lines = ["alpha 1.5", "beta"]
    res = process_media(
        pdf.encode_text_pdf_objstm(lines), "application/pdf", "m15"
    )
    assert res.state == "PROCESSED"
    assert res.txt.splitlines() == lines
    assert res.confidences == [1.0, 1.0]


def test_corrupt_objstm_raises():
    b = bytearray(pdf.encode_text_pdf_objstm(["x"]))
    # corrupt the ObjStm /N so the header pair count mismatches
    i = bytes(b).find(b"/Type /ObjStm /N 4")
    assert i > 0
    body = bytes(b).replace(b"/Type /ObjStm /N 4", b"/Type /ObjStm /N 3")
    with pytest.raises(pdf.PdfError):
        pdf.extract_text(body)


def test_nested_decodeparms_dict_fails_loud():
    """_PARMS_RE is non-greedy, so a nested dict inside /DecodeParms
    would be truncated at the inner '>>' — keys after it (/Columns)
    silently dropped. Outside-subset input must raise, not mis-decode
    (review finding)."""
    with pytest.raises(pdf.PdfError):
        pdf._parms_list(
            b"<< /Filter /FlateDecode /DecodeParms "
            b"<< /Predictor 12 /Weird << /X 1 >> /Columns 4 >> >>",
            1,
        )
    with pytest.raises(pdf.PdfError):
        pdf._parms_list(
            b"<< /DecodeParms [ << /A << /B 1 >> >> null ] >>", 2
        )


def test_unknown_filter_still_rejected():
    body = (
        b"%PDF-1.4\n1 0 obj\n<< /Filter [/ASCIIHexDecode /LZWDecode] "
        b"/Length 4 >>\nstream\n41>\nendstream\nendobj\n"
    )
    with pytest.raises(pdf.PdfError):
        pdf.extract_text(body)


def test_encrypted_objstm_pdf15_rejected():
    """/Encrypt in the xref-stream dict (the 1.5 trailer equivalent)
    must be detected even with no 'trailer' keyword in the file."""
    b = pdf.encode_text_pdf_objstm(["x"])
    body = b.replace(b"/Type /XRef /Size 8", b"/Type /XRef /Encrypt 9 0 R /Size 8")
    with pytest.raises(pdf.PdfError):
        pdf.extract_text(body)


# --- ASCII85Decode + RunLengthDecode (round-4 widened subset) -----------------


def test_ascii85_roundtrip():
    lines = ["base eighty-five", "zzzz and tildes ~ fine in text"]
    b = pdf.encode_text_pdf_a85(lines)
    assert b"/ASCII85Decode" in b
    assert pdf.extract_text(b) == lines


def test_ascii85_flate_cascade_roundtrip():
    lines = ["cascaded", "a85(deflate(ops))"]
    b = pdf.encode_text_pdf_a85(lines, cascade=True)
    assert b"[/ASCII85Decode /FlateDecode]" in b
    assert pdf.extract_text(b) == lines


def test_ascii85_zero_group_and_partials():
    """'z' expands to four zero bytes; every partial-group length (1-3
    trailing bytes) roundtrips through the u-padding rule."""
    assert pdf._ascii85_decode(b"z~>") == b"\0\0\0\0"
    for n in range(1, 9):
        data = bytes(range(1, n + 1))
        assert pdf._ascii85_decode(pdf._a85_encode(data)) == data


def test_ascii85_malformed_raises():
    with pytest.raises(pdf.PdfError):
        pdf._ascii85_decode(b"ab\x7fcd~>")  # out-of-range char
    with pytest.raises(pdf.PdfError):
        pdf._ascii85_decode(b"!!!!z~>")  # z inside a group
    with pytest.raises(pdf.PdfError):
        pdf._ascii85_decode(b"!!!!!a~>")  # lone trailing char
    with pytest.raises(pdf.PdfError):
        pdf._ascii85_decode(b"uuuuu~>")  # group > 2^32-1


def test_rle_roundtrip():
    lines = ["aaaaaaaaaa run lengths", "literal mix 12345"]
    b = pdf.encode_text_pdf_rle(lines)
    assert b"/RunLengthDecode" in b
    assert pdf.extract_text(b) == lines


def test_rle_decoder_edges():
    # 128-byte replicate run (max) + literal + EOD
    enc = bytes([129]) + b"x" + bytes([2]) + b"abc" + bytes([128])
    assert pdf._run_length_decode(enc) == b"x" * 128 + b"abc"
    # encoder handles long runs and long literals
    data = b"q" * 300 + bytes(range(256)) * 2
    assert pdf._run_length_decode(pdf._rle_encode(data)) == data
    with pytest.raises(pdf.PdfError):
        pdf._run_length_decode(bytes([5]) + b"ab")  # truncated literal
    with pytest.raises(pdf.PdfError):
        pdf._run_length_decode(bytes([200]))  # truncated replicate
    with pytest.raises(pdf.PdfError):
        pdf._run_length_decode(bytes([0]) + b"a")  # missing EOD


def test_new_filter_kernel_integration():
    """Both new layouts run through the OCR kernel media path."""
    for blob in (
        pdf.encode_text_pdf_a85(["kernel a85"], cascade=True),
        pdf.encode_text_pdf_rle(["kernel rle"]),
    ):
        res = process_media(blob, "application/pdf", "ref.pdf")
        assert res.state == "PROCESSED"
        assert res.confidences and min(res.confidences) == 1.0


# ---------------------------------------------------------- predictors ---


def test_predictor12_roundtrip():
    lines = ["predicted line one", "and two (with) specials \\ ok"]
    b = pdf.encode_text_pdf_pred(lines)
    assert b"/DecodeParms" in b and b"/Predictor 12" in b
    assert pdf.extract_text(b) == lines


def test_predictor12_partial_last_row():
    # content length deliberately not a multiple of Columns
    lines = ["x" * 7]
    assert pdf.extract_text(pdf.encode_text_pdf_pred(lines, columns=64)) == lines


def test_predictor12_kernel_integration():
    lines = ["kernel sees predicted text"]
    res = process_media(
        pdf.encode_text_pdf_pred(lines), "application/pdf", "mp"
    )
    assert res.state == "PROCESSED"
    assert res.text == lines[0]


def _png_rows(rows: list[tuple[int, bytes]]) -> bytes:
    return b"".join(bytes([ft]) + body for ft, body in rows)


def test_png_predictors_all_filter_types():
    parms = {"Predictor": 15, "Columns": 4, "Colors": 1, "BitsPerComponent": 8}
    # hand-built: row1 None, row2 Sub, row3 Up, row4 Average, row5 Paeth
    r1 = bytes([10, 20, 30, 40])
    data = _png_rows(
        [
            (0, r1),
            (1, bytes([5, 5, 5, 5])),  # Sub: cumulative 5,10,15,20
            (2, bytes([1, 1, 1, 1])),  # Up: prev row + 1
            (3, bytes([0, 0, 0, 0])),  # Average of left and up
            (4, bytes([0, 0, 0, 0])),  # Paeth carries predictors
        ]
    )
    out = pdf._png_unpredict(data, parms)
    assert out[:4] == r1
    assert out[4:8] == bytes([5, 10, 15, 20])
    assert out[8:12] == bytes([6, 11, 16, 21])
    # Average row: x = 0 + (a + b)//2 with a = left (running), b = up
    exp_avg = bytearray()
    prev = bytes([6, 11, 16, 21])
    a = 0
    for j in range(4):
        v = (0 + (a + prev[j]) // 2) & 0xFF
        exp_avg.append(v)
        a = v
    assert out[12:16] == bytes(exp_avg)
    assert len(out) == 20


def test_tiff_predictor2():
    parms = {"Predictor": 2, "Columns": 4, "Colors": 1, "BitsPerComponent": 8}
    # two rows of deltas; each row accumulates independently
    data = bytes([10, 1, 1, 1, 20, 2, 2, 2])
    out = pdf._tiff_unpredict(data, parms)
    assert out == bytes([10, 11, 12, 13, 20, 22, 24, 26])


def test_unsupported_predictor_raises():
    b = pdf.encode_text_pdf_pred(["x"])
    with pytest.raises(pdf.PdfError):
        pdf.extract_text(b.replace(b"/Predictor 12", b"/Predictor 3"))


def test_predictor_on_non_flate_filter_rejected():
    lines = ["x"]
    b = pdf.encode_text_pdf_hex(lines)
    bad = b.replace(
        b"/Filter /ASCIIHexDecode",
        b"/Filter /ASCIIHexDecode /DecodeParms << /Predictor 12 /Columns 8 >>",
    )
    with pytest.raises(pdf.PdfError):
        pdf.extract_text(bad)


def test_parms_array_aligns_with_filter_array():
    parms = pdf._parms_list(
        b"<< /Filter [/ASCIIHexDecode /FlateDecode] "
        b"/DecodeParms [null << /Predictor 12 /Columns 24 >>] >>",
        2,
    )
    assert parms[0]["Predictor"] == 1
    assert parms[1]["Predictor"] == 12 and parms[1]["Columns"] == 24


# ----------------------------------------------------------------- LZW ---


def test_lzw_bit_packing_pinned():
    # codes 256(clear), 65, 66, 257(EOD) at 9 bits, MSB-first
    assert pdf._lzw_encode(b"AB") == bytes([0x80, 0x10, 0x48, 0x50, 0x10])
    assert pdf._lzw_decode(bytes([0x80, 0x10, 0x48, 0x50, 0x10])) == b"AB"


def test_lzw_roundtrip_width_boundaries():
    import random

    rng = random.Random(7)
    for n in (300, 1500, 5000, 120000):  # crosses 9->10->11->12 + resets
        data = bytes(rng.randrange(256) for _ in range(n))
        assert pdf._lzw_decode(pdf._lzw_encode(data)) == data
        rep = (b"abcabd" * (n // 6 + 1))[:n]
        assert pdf._lzw_decode(pdf._lzw_encode(rep)) == rep


def test_lzw_missing_eod_raises():
    good = pdf._lzw_encode(b"hello world")
    with pytest.raises(pdf.PdfError):
        pdf._lzw_decode(good[:-2])


def test_lzw_pdf_roundtrip():
    lines = ["lzw content stream", "with (escapes) \\ too"]
    b = pdf.encode_text_pdf_lzw(lines)
    assert b"/LZWDecode" in b
    assert pdf.extract_text(b) == lines


def test_lzw_kernel_integration():
    lines = ["kernel decodes lzw"]
    res = process_media(pdf.encode_text_pdf_lzw(lines), "application/pdf", "ml")
    assert res.state == "PROCESSED"
    assert res.text == lines[0]


def test_lzw_earlychange_parm_parsed():
    parms = pdf._parms_list(
        b"<< /Filter /LZWDecode /DecodeParms << /EarlyChange 0 >> >>", 1
    )
    assert parms[0]["EarlyChange"] == 0


def test_zero_columns_predictor_raises_pdferror():
    """/Columns 0 is a typed PdfError, never a bare ValueError
    (review finding: TIFF unpredict hit range() step 0)."""
    b = pdf.encode_text_pdf_pred(["x"])
    for repl in (b"/Predictor 2 /Columns 0", b"/Predictor 12 /Columns 0"):
        bad = b.replace(b"/Predictor 12 /Columns 24", repl)
        with pytest.raises(pdf.PdfError):
            pdf.extract_text(bad)


def test_huge_declared_columns_is_bounded():
    """A tiny file declaring absurd /Columns must not trigger a
    columns-sized allocation: decode cost stays bounded by the stream
    (review finding: prev row was eagerly allocated at rowlen)."""
    b = pdf.encode_text_pdf_pred(["x" * 7], columns=64)
    bad = b.replace(b"/Columns 64", b"/Columns 999999999999")
    # rows are sliced from the (short) stream; whether the result
    # still parses as text is irrelevant — it must return or raise
    # PdfError quickly, never attempt a terabyte allocation
    try:
        pdf.extract_text(bad)
    except pdf.PdfError:
        pass


# ----------------------------------------------------------- multi-page ---


def test_multipage_roundtrip_reading_order():
    pages = [
        ["page one line a", "page one line b"],
        ["page two only line"],
        ["page three (last)"],
    ]
    b = pdf.encode_text_pdf_pages(pages)
    assert b"/Count 3" in b
    flat = [ln for pg in pages for ln in pg]
    assert pdf.extract_text(b) == flat


def test_multipage_kernel_integration():
    pages = [["alpha"], ["beta"]]
    res = process_media(
        pdf.encode_text_pdf_pages(pages), "application/pdf", "mm"
    )
    assert res.state == "PROCESSED"
    assert res.text == "alpha\nbeta"
    assert len(res.confidences) == 2
