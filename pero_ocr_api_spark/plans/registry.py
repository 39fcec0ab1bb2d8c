"""Engine registry: the extensibility surface.

The reference's extension mechanism is registering engine /
engine_version / model rows plus INI configs
(``scripts/add_new_engine_version.py:49-118``, 2-or-3-model
constraint at 62-64; consumed via ``get_engine_dict``,
``general.py:70-77``). The Spark-native analog: an :class:`Engine` is
a named, versioned bundle of

* span processors — ``kind -> (Column -> Column)`` pure-Catalyst
  transforms for the text path (the "model components"), and
* a media config dict — forwarded to the OCR kernel (the INI analog:
  scale / min_confidence / engine name+version stamped into ALTO).

``latest()`` reproduces J7 (max version per engine name) as plain
Python over the registry — the reference needed an N+1 SQL loop for
the same lookup.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from pero_ocr_api_spark.functions.html_clean import clean_html_col

SpanProcessor = Callable[[Column], Column]


# eq=False: engines compare and hash by identity, so plans/extract.py
# can key the Columns it builds per engine on the engine itself
@dataclass(frozen=True, eq=False)
class Engine:
    name: str
    version: str
    processors: dict[str, SpanProcessor] = field(default_factory=dict)
    media_config: dict[str, Any] = field(default_factory=dict)

    def kernel_config(self) -> dict[str, Any]:
        return {
            **self.media_config,
            "engine_name": self.name,
            "engine_version": self.version,
        }

    def text_expr(self, kind: Column, text: Column) -> Column:
        """Single flat CASE dispatching the registered processor by
        kind (one ``when`` chain, not nested CASEs — depth stays
        constant as kinds are added); unregistered kinds pass through
        null-safed."""
        expr: Column | None = None
        for k, proc in sorted(self.processors.items()):
            branch = proc(text)
            expr = F.when(kind == k, branch) if expr is None else expr.when(
                kind == k, branch
            )
        default = F.coalesce(text, F.lit(""))
        return default if expr is None else expr.otherwise(default)


class EngineRegistry:
    def __init__(self) -> None:
        self._engines: dict[tuple[str, str], Engine] = {}

    def register(self, engine: Engine) -> Engine:
        key = (engine.name, engine.version)
        if key in self._engines:
            raise ValueError(f"engine {key} already registered")
        self._engines[key] = engine
        return engine

    def get(self, name: str, version: str) -> Engine:
        return self._engines[(name, version)]

    def latest(self, name: str) -> Engine:
        """Max-by version — J7/O2 (general.py:272-278) over the
        registry."""
        versions = [e for (n, _), e in self._engines.items() if n == name]
        if not versions:
            raise KeyError(name)
        return max(versions, key=lambda e: e.version)

    def engines(self) -> list[tuple[str, str]]:
        return sorted(self._engines)


DEFAULT_REGISTRY = EngineRegistry()
DEFAULT_ENGINE = DEFAULT_REGISTRY.register(
    Engine(
        name="glyph_template_engine",
        version="v1",
        processors={
            "html": clean_html_col,
            "text": lambda c: F.coalesce(c, F.lit("")),
        },
    )
)
