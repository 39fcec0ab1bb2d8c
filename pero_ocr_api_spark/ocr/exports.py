"""ALTO / PAGE-XML / plain-text serializers (X5-X7).

Deterministic stdlib string templating over the decoded line structs —
replaces ``page_layout.to_altoxml_string`` / ``to_pagexml_string`` /
``get_page_layout_text`` (reference ``run_client.py:137-141,203-222``,
implemented in the external pero_ocr package).

Ordering asymmetry preserved from the reference (run_client.py:209 vs
222-223): ALTO is serialized from the *unfiltered, unnormalized* lines
(with per-line WC confidences and the min-confidence recorded as a
processing step), while PAGE XML and txt are serialized *after* the
confidence filter and Arabic normalization.
"""

from __future__ import annotations

from xml.sax.saxutils import escape, quoteattr

from pero_ocr_api_spark.ocr.layout import Block

# the ALTO processing-software stamp (run_client.py:203-207): the one
# engine, the glyph-template decoder of ocr/glyphs.py
SOFTWARE_CREATOR = "pero_ocr_api_spark"
SOFTWARE_NAME = "glyph_template_engine"
SOFTWARE_VERSION = "v1"


def _attr(v: object) -> str:
    # numeric fast path: int/float reprs never contain XML-special
    # characters, so quoteattr reduces to plain quoting — skipping its
    # scan/escape machinery for the coordinate/score attributes that
    # dominate the call count (identical output by construction)
    if type(v) is int or type(v) is float:
        return f'"{v}"'
    return quoteattr(str(v))


def to_alto_xml(
    blocks: list[Block],
    page_wh: tuple[int, int],
    page_id: str,
    min_line_confidence: float,
) -> str:
    w, h = page_wh
    out = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<alto xmlns="http://www.loc.gov/standards/alto/ns-v2#">',
        "<Description>",
        "<MeasurementUnit>pixel</MeasurementUnit>",
        '<OCRProcessing ID="IdOcr">',
        "<ocrProcessingStep>",
        f"<processingStepSettings>min_confidence:{min_line_confidence}"
        "</processingStepSettings>",
        "<processingSoftware>",
        f"<softwareCreator>{escape(SOFTWARE_CREATOR)}</softwareCreator>",
        f"<softwareName>{escape(SOFTWARE_NAME)}</softwareName>",
        f"<softwareVersion>{escape(SOFTWARE_VERSION)}</softwareVersion>",
        "</processingSoftware>",
        "</ocrProcessingStep>",
        "</OCRProcessing>",
        "</Description>",
        "<Layout>",
        f"<Page ID={_attr(page_id)} WIDTH={_attr(w)} HEIGHT={_attr(h)}>",
        "<PrintSpace>",
    ]
    for bi, b in enumerate(blocks):
        out.append(
            f'<TextBlock ID="block_{bi}" HPOS={_attr(b.x0)} VPOS={_attr(b.y0)}'
            f" WIDTH={_attr(b.x1 - b.x0)} HEIGHT={_attr(b.y1 - b.y0)}>"
        )
        for li, line in enumerate(b.lines):
            out.append(
                f'<TextLine ID="line_{bi}_{li}" HPOS={_attr(line.x0)}'
                f" VPOS={_attr(line.y0)} WIDTH={_attr(line.w)}"
                f" HEIGHT={_attr(line.h)}>"
                f"<String CONTENT={_attr(line.text)}"
                f" WC={_attr(line.confidence)}/>"
                "</TextLine>"
            )
        out.append("</TextBlock>")
    out.extend(["</PrintSpace>", "</Page>", "</Layout>", "</alto>"])
    return "\n".join(out)


def to_page_xml(blocks: list[Block], page_wh: tuple[int, int], page_id: str) -> str:
    """PAGE XML over the post-filter, post-normalization lines."""
    w, h = page_wh
    out = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<PcGts xmlns="http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15">',
        f"<Page imageFilename={_attr(page_id)} imageWidth={_attr(w)}"
        f" imageHeight={_attr(h)}>",
    ]
    for bi, b in enumerate(blocks):
        coords = f"{b.x0},{b.y0} {b.x1},{b.y0} {b.x1},{b.y1} {b.x0},{b.y1}"
        out.append(f'<TextRegion id="region_{bi}">')
        out.append(f"<Coords points={_attr(coords)}/>")
        for li, line in enumerate(b.lines):
            lc = (
                f"{line.x0},{line.y0} {line.x0 + line.w},{line.y0} "
                f"{line.x0 + line.w},{line.y0 + line.h} {line.x0},{line.y0 + line.h}"
            )
            out.append(
                f'<TextLine id="line_{bi}_{li}" conf={_attr(line.confidence)}>'
                f"<Coords points={_attr(lc)}/>"
                f"<TextEquiv><Unicode>{escape(line.text)}</Unicode></TextEquiv>"
                "</TextLine>"
            )
        out.append("</TextRegion>")
    out.extend(["</Page>", "</PcGts>"])
    return "\n".join(out)


def to_txt(blocks: list[Block]) -> str:
    """Plain text: one line per text line, each newline-terminated
    (matches get_page_layout_text, run_client.py:137-141)."""
    return "".join(
        line.text + "\n" for b in blocks for line in b.lines
    )
