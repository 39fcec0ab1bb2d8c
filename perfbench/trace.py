"""In-memory spans around calls into the program's layers.

Spans are recorded only by the benchmark process: the kernel layers by
temporarily replacing module attributes (``png.decode_gray``,
``layout.analyze_page`` ...) with timing wrappers while a
single-process kernel pass runs, the JVM layers by timing whole
noop-sink sub-plans. Nothing inside the program changes. The spans are
written out once, when the benchmark ends.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start_ns: int
    end_ns: int
    parent: int  # index into Tracer.spans, -1 for a root
    attrs: dict

    @property
    def ms(self) -> float:
        return (self.end_ns - self.start_ns) / 1e6


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter_ns(), 0, self._stack[-1] if self._stack else -1, attrs))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end_ns = time.perf_counter_ns()

    @contextlib.contextmanager
    def wrapping(self, targets: list[tuple[object, str, str]]):
        """Replace ``module.attr`` with a span-recording wrapper for the
        duration of the block; ``targets`` holds (module, attr, span name)."""
        saved = []
        for module, attr, name in targets:
            fn = getattr(module, attr)
            saved.append((module, attr, fn))

            def wrapper(*args, _fn=fn, _name=name, **kwargs):
                with self.span(_name):
                    return _fn(*args, **kwargs)

            setattr(module, attr, wrapper)
        try:
            yield
        finally:
            for module, attr, fn in saved:
                setattr(module, attr, fn)

    def children_map(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            kids.setdefault(s.parent, []).append(i)
        return kids

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def kernel_targets():
    from pero_ocr_api_spark.ocr import exports, glyphs, jpeg, layout, pdf, png

    return [
        (png, "decode_gray", "png.decode_gray"),
        (jpeg, "decode_gray", "jpeg.decode_gray"),
        (pdf, "extract_text", "pdf.extract_text"),
        (pdf, "extract_page_images", "pdf.extract_page_images"),
        (layout, "analyze_page", "layout.analyze_page"),
        (glyphs, "decode_cells", "glyphs.decode_cells"),
        (exports, "to_alto_xml", "exports.to_alto_xml"),
        (exports, "to_page_xml", "exports.to_page_xml"),
        (exports, "to_txt", "exports.to_txt"),
    ]


DECODE_KINDS = ("png", "jpeg", "pdf_text", "pdf_scan")


def traced_kernel_pass(tracer: Tracer, media: list[dict]) -> tuple[dict, float]:
    """Single-process ``process_media`` over every media row with the
    kernel layers wrapped; returns (media_ref -> result, wall s)."""
    from pero_ocr_api_spark.ocr import kernel

    results = {}
    t0 = time.perf_counter()
    with tracer.wrapping(kernel_targets()):
        for m in media:
            with tracer.span("kernel.process_media", media_ref=m["media_ref"]) as sp:
                res = kernel.process_media(m["media_bytes"], m["media_kind"], m["media_ref"])
                sp.attrs["state"] = res.state
            results[m["media_ref"]] = res
    return results, time.perf_counter() - t0


def kernel_metrics(tracer: Tracer, untraced_wall_s: float) -> tuple[dict[str, float], str]:
    """Per-layer kernel metrics from the spans of one traced pass, and
    the slowest media_ref."""
    pages = [(i, s) for i, s in enumerate(tracer.spans) if s.name == "kernel.process_media"]
    out: dict[str, float] = {
        "kernel.pages": len(pages),
        "kernel.failed_pages": sum(1 for _, s in pages if s.attrs["state"] != "PROCESSED"),
    }
    page_ms = [s.ms for _, s in pages]
    out["kernel.page_ms.p50"] = statistics.median(page_ms) if page_ms else 0.0
    out["kernel.page_ms.max"] = max(page_ms, default=0.0)
    slowest = max(pages, key=lambda p: p[1].ms)[1].attrs["media_ref"] if pages else ""
    out["kernel.single_process_pages_per_s"] = len(pages) / untraced_wall_s if untraced_wall_s else 0.0

    decode = {k: [0.0, 0] for k in DECODE_KINDS}
    layout_ms = glyph_ms = export_ms = 0.0
    glyph_lines = 0
    spans, kid_map = tracer.spans, tracer.children_map()
    for i, _ in pages:
        kids = [spans[j] for j in kid_map.get(i, ())]
        names = {k.name for k in kids}
        if "pdf.extract_page_images" in names:
            kind = "pdf_scan"
        elif "pdf.extract_text" in names:
            kind = "pdf_text"
        elif "jpeg.decode_gray" in names:
            kind = "jpeg"
        elif "png.decode_gray" in names:
            kind = "png"
        else:
            kind = None  # NOT_FOUND or refused kind: no decode ran
        if kind:
            decode[kind][0] += sum(
                k.ms for k in kids if k.name.split(".")[0] in ("png", "jpeg", "pdf")
            )
            decode[kind][1] += 1
        for j in kid_map.get(i, ()):
            k = spans[j]
            if k.name == "layout.analyze_page":
                cells = [spans[c] for c in kid_map.get(j, ())]
                glyph_ms += sum(c.ms for c in cells)
                glyph_lines += len(cells)
                layout_ms += k.ms - sum(c.ms for c in cells)
            elif k.name.startswith("exports."):
                export_ms += k.ms
    for kind, (ms, n) in decode.items():
        out[f"kernel.decode.{kind}.ms"] = ms
        out[f"kernel.decode.{kind}.pages"] = n
    out["kernel.layout.self_ms"] = layout_ms
    out["kernel.glyphs.ms"] = glyph_ms
    out["kernel.glyphs.lines"] = glyph_lines
    out["kernel.exports.ms"] = export_ms
    return out, slowest
