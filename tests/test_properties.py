"""Property-based tests (hypothesis) for the pure kernels.

These cover the deterministic substrate the distributed pipeline
stands on: any counterexample here would silently break span
equality at scale.
"""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from pero_ocr_api_spark.functions.arabic import normalize_arabic_py
from pero_ocr_api_spark.functions.html_clean import clean_html_py
from pero_ocr_api_spark.ocr import glyphs, layout, png
from pero_ocr_api_spark.ocr.render import BlockSpec, render_page

from tests.oracle import doc_score, round_half_up

# text renderable by the glyph font: A-Z 0-9 and single spaces
glyph_text = st.text(
    alphabet=st.sampled_from(glyphs.ALPHABET + " "), min_size=1, max_size=24
).map(lambda s: " ".join(s.split())).filter(lambda s: s and not s.startswith(" "))


@settings(max_examples=40, deadline=None)
@given(
    text=glyph_text,
    scale=st.integers(min_value=2, max_value=6),
    noise=st.floats(min_value=0.0, max_value=glyphs.MAX_NOISE),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_line_roundtrip_property(text, scale, noise, seed):
    rng = np.random.RandomState(seed)
    img = glyphs.render_line(text, scale, noise, rng)
    decoded, conf = glyphs.decode_cells(img, scale)
    assert decoded == text.rstrip()
    assert 0.0 <= conf <= 1.0


@settings(max_examples=25, deadline=None)
@given(
    lines=st.lists(glyph_text, min_size=1, max_size=4),
    scale=st.integers(min_value=3, max_value=5),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_page_roundtrip_property(lines, scale, seed):
    spec = [BlockSpec(y=12, x=10, lines=[(t, 0.0) for t in lines])]
    img, truth = render_page(spec, scale, seed=seed)
    blocks = layout.analyze_page(img, scale)
    decoded = "\n".join(l.text for b in blocks for l in b.lines)
    # glyph_text never has trailing spaces, so decode == truth exactly
    assert decoded == truth == "\n".join(lines)


@settings(max_examples=60, deadline=None)
@given(data=st.binary(min_size=0, max_size=400))
def test_png_decoder_never_crashes_uncontrolled(data):
    """Arbitrary bytes → PngError, never any other exception
    (INVALID_FILE classification depends on this)."""
    try:
        png.decode_gray(data)
    except png.PngError:
        pass


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=40),
    w=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_png_roundtrip_property(h, w, seed):
    img = (np.random.RandomState(seed).random_sample((h, w)) * 255).astype(np.uint8)
    assert (png.decode_gray(png.encode_gray(img)) == img).all()


@settings(max_examples=60, deadline=None)
@given(html=st.text(max_size=300))
def test_cleaner_total_on_arbitrary_text(html):
    """The cleaner is total: any input yields a string with no
    remaining complete tags and no control-char markers."""
    out = clean_html_py(html)
    assert "\x01" not in out
    assert "<script" not in out.lower() or "</script" not in out.lower()


@settings(max_examples=40, deadline=None)
@given(text=st.text(max_size=120))
def test_arabic_normalization_involution(text):
    """Applying the logical→visual flip twice restores the input
    (per-line reversal is an involution)."""
    once = normalize_arabic_py(text)
    assert normalize_arabic_py(once) == text


@settings(max_examples=60, deadline=None)
@given(
    confs=st.lists(
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False), max_size=20
    )
)
def test_doc_score_matches_numpy_quantile(confs):
    """The SQL-mirrored median formula == np.quantile(.5) exactly
    (the oracle/restitch score parity contract)."""
    got = doc_score([round(c, 4) for c in confs])
    if not confs:
        assert got == 100.0
    else:
        expect = round_half_up(
            float(np.quantile(np.array([round(c, 4) for c in confs]), 0.5)) * 100.0,
            2,
        )
        assert got == expect


# 2-decimal doubles, as the prices and the rounded confidences are;
# the small pool forces duplicates
two_dp = st.one_of(
    st.integers(min_value=-(10**7), max_value=10**7),
    st.sampled_from([0, 1, 250, 999]),
).map(lambda i: i / 100)


@settings(max_examples=25, deadline=None)
@given(groups=st.lists(st.lists(two_dp, max_size=9), min_size=1, max_size=8))
@example(groups=[[], [12.5], [0.01, 0.02], [2.5, 2.5], [9.99, 0.0, 9.99, 2.5]])
def test_sorted_median_matches_numpy_and_duckdb(spark, groups):
    """The Spark-side twin of test_doc_score_matches_numpy_quantile:
    ``sorted_median(sort_array(v))`` is ``np.quantile(v, .5)`` bit for
    bit and null on an empty list, and its ``round_bin(·, 4)`` equals
    DuckDB's ``quantile_cont`` under ``duckdb_round_bin`` (the
    median_score oracle)."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from pero_ocr_api_spark.functions.portable import (
        duckdb_round_bin,
        round_bin,
        sorted_median,
    )

    median = sorted_median(F.sort_array("v"))
    got = {
        r.gid: (r.m, r.r)
        for r in spark.createDataFrame(list(enumerate(groups)), "gid int, v array<double>")
        .select("gid", median.alias("m"), round_bin(median, 4).alias("r"))
        .collect()
    }
    rows = pd.DataFrame(
        [(gid, x) for gid, v in enumerate(groups) for x in v], columns=["gid", "x"]
    )
    duck = dict(
        duckdb.connect()
        .execute(
            f"SELECT gid, {duckdb_round_bin('quantile_cont(x, 0.5)', 4)} "
            "FROM rows GROUP BY gid"
        )
        .fetchall()
    )
    for gid, v in enumerate(groups):
        m, r = got[gid]
        if not v:
            assert m is None and r is None
        else:
            assert m == float(np.quantile(np.array(v), 0.5))
            assert r == duck[gid]


@settings(max_examples=60, deadline=None)
@given(data=st.binary(min_size=0, max_size=4096))
def test_lzw_roundtrip_property(data):
    from pero_ocr_api_spark.ocr import pdf

    assert pdf._lzw_decode(pdf._lzw_encode(data)) == data


@settings(max_examples=60, deadline=None)
@given(data=st.binary(min_size=0, max_size=2048))
def test_lzw_decoder_never_crashes_uncontrolled(data):
    """Arbitrary bytes either decode or raise PdfError — never any
    other exception (the INVALID_FILE contract)."""
    from pero_ocr_api_spark.ocr import pdf

    try:
        pdf._lzw_decode(data)
    except pdf.PdfError:
        pass


@settings(max_examples=60, deadline=None)
@given(
    data=st.binary(min_size=0, max_size=1024),
    columns=st.integers(min_value=1, max_value=96),
)
def test_png_up_predictor_roundtrip_property(data, columns):
    from pero_ocr_api_spark.ocr import pdf

    parms = {"Predictor": 12, "Columns": columns, "Colors": 1,
             "BitsPerComponent": 8}
    assert pdf._png_unpredict(pdf._png_up_predict(data, columns), parms) == data


@settings(max_examples=60, deadline=None)
@given(
    data=st.binary(min_size=0, max_size=1024),
    parms=st.fixed_dictionaries(
        {
            "Predictor": st.sampled_from([2, 10, 11, 12, 13, 14, 15]),
            "Columns": st.integers(min_value=1, max_value=64),
            "Colors": st.integers(min_value=1, max_value=4),
            "BitsPerComponent": st.sampled_from([8]),
        }
    ),
)
def test_unpredict_never_crashes_uncontrolled(data, parms):
    from pero_ocr_api_spark.ocr import pdf

    try:
        pdf._unpredict(data, parms)
    except pdf.PdfError:
        pass
