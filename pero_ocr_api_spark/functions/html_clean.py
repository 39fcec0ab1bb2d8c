"""X9 — HTML boilerplate strip + DOM-heuristic main-content cleaner.

The reference pipeline is image-only; this operator is the north-rule
addition for the text/HTML spans of interleaved documents. Design goals:

* **Pure JVM execution** — the whole cleaner is a Catalyst `Column`
  expression (``regexp_replace`` / ``split`` / ``transform`` /
  ``filter`` / ``aggregate``), so it rides whole-stage codegen and
  never leaves the executor JVM. No Python UDF in the hot path.
* **Cross-engine parity** — the exact same step list is compiled three
  ways: to a Spark Column (:func:`clean_html_col`), to plain Python
  (:func:`clean_html_py`, used by the single-process oracle in tests),
  and to a DuckDB SQL expression (:func:`duckdb_clean_html_sql`, used
  by ``__spark_entry__.oracle_sql``). All regexes are written in the
  common subset of Java-regex / Python-re / RE2: inline ``(?is)``
  flags, lazy quantifiers, no backreferences.

Cleaning semantics (Arc90-readability-style, simplified and fully
deterministic):

1. drop non-content subtrees: ``<script> <style> <noscript> <nav>
   <header> <footer> <aside>`` and HTML comments;
2. mark block boundaries (``</p> </div> </li> ...``) with a control
   char, ``<br>`` with a newline;
3. per block: measure anchor-text length (link density numerator),
   strip all remaining tags, decode common entities, collapse
   whitespace;
4. keep a block iff it has text and is not link-dominated
   (``2*anchor_len <= text_len`` or the block is long, >120 chars —
   the Arc90 "long paragraphs survive even with links" rule);
5. join surviving blocks with newlines.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Subtrees removed wholesale (tag + content). Listed per-tag because
# RE2 (DuckDB) has no backreferences for a combined <(a|b)>.*?</\1>.
DROP_SUBTREE_TAGS = ("script", "style", "noscript", "nav", "header", "footer", "aside")

COMMENT_RE = r"(?s)<!--.*?-->"

# Block-level boundaries → chr(1) marker (split points).
BLOCK_BOUNDARY_RE = r"(?i)</(?:p|div|li|h1|h2|h3|h4|h5|h6|tr|table|ul|ol|section|article|blockquote|pre)>"
BR_RE = r"(?i)<br\s*/?>"

ANCHOR_TEXT_RE = r"(?is)<a[^>]*>(.*?)</a>"
TAG_RE = r"(?s)<[^>]*>"

# Entity decode table, applied in order (&amp; last so &amp;lt; does not
# double-decode).
ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)

MARKER = "\x01"
LONG_BLOCK_CHARS = 120


def _drop_subtree_re(tag: str) -> str:
    return rf"(?is)<{tag}\b[^>]*>.*?</{tag}\s*>"


# ---------------------------------------------------------------- Spark ---


def _pre_split_col(col: Column) -> Column:
    out = col
    for tag in DROP_SUBTREE_TAGS:
        out = F.regexp_replace(out, _drop_subtree_re(tag), "")
    out = F.regexp_replace(out, COMMENT_RE, "")
    out = F.regexp_replace(out, BR_RE, "\n")
    out = F.regexp_replace(out, BLOCK_BOUNDARY_RE, MARKER)
    return out


def _block_text_col(block: Column) -> Column:
    t = F.regexp_replace(block, TAG_RE, "")
    for src, dst in ENTITIES:
        t = F.replace(t, F.lit(src), F.lit(dst))
    t = F.regexp_replace(t, r"[ \t\r]+", " ")
    t = F.regexp_replace(t, r" ?\n ?", "\n")
    t = F.regexp_replace(t, r"\n+", "\n")
    return F.trim(t)


def _anchor_len_col(block: Column) -> Column:
    return F.aggregate(
        F.regexp_extract_all(block, F.lit(ANCHOR_TEXT_RE), F.lit(1)),
        F.lit(0),
        lambda acc, x: acc + F.length(_block_text_col(x)),
    )


def clean_html_col(col: Column) -> Column:
    """Main-content text of an HTML string column (JVM-only plan)."""
    blocks = F.split(_pre_split_col(col), MARKER)
    scored = F.transform(
        blocks,
        lambda b: F.struct(
            _block_text_col(b).alias("t"), _anchor_len_col(b).alias("a")
        ),
    )
    kept = F.filter(
        scored,
        lambda s: (F.length(s["t"]) > 0)
        & (
            (s["a"] * 2 <= F.length(s["t"]))
            | (F.length(s["t"]) > LONG_BLOCK_CHARS)
        ),
    )
    return F.array_join(kept["t"], "\n")


# --------------------------------------------------------------- Python ---


def _block_text_py(block: str) -> str:
    t = re.sub(TAG_RE, "", block)
    for src, dst in ENTITIES:
        t = t.replace(src, dst)
    t = re.sub(r"[ \t\r]+", " ", t)
    t = re.sub(r" ?\n ?", "\n", t)
    t = re.sub(r"\n+", "\n", t)
    return t.strip()


def clean_html_py(html: str) -> str:
    """Single-process mirror of :func:`clean_html_col` (test oracle)."""
    out = html
    for tag in DROP_SUBTREE_TAGS:
        out = re.sub(_drop_subtree_re(tag), "", out)
    out = re.sub(COMMENT_RE, "", out)
    out = re.sub(BR_RE, "\n", out)
    out = re.sub(BLOCK_BOUNDARY_RE, MARKER, out)
    kept: list[str] = []
    for block in out.split(MARKER):
        anchor_len = sum(
            len(_block_text_py(m)) for m in re.findall(ANCHOR_TEXT_RE, block)
        )
        text = _block_text_py(block)
        if len(text) > 0 and (
            2 * anchor_len <= len(text) or len(text) > LONG_BLOCK_CHARS
        ):
            kept.append(text)
    return "\n".join(kept)


# --------------------------------------------------------------- DuckDB ---


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _duckdb_block_text_sql(expr: str) -> str:
    t = f"regexp_replace({expr}, {_sql_quote(TAG_RE)}, '', 'g')"
    for src, dst in ENTITIES:
        t = f"replace({t}, {_sql_quote(src)}, {_sql_quote(dst)})"
    t = f"regexp_replace({t}, '[ \\t\\r]+', ' ', 'g')"
    t = f"regexp_replace({t}, ' ?\\n ?', chr(10), 'g')"
    t = f"regexp_replace({t}, '\\n+', chr(10), 'g')"
    return f"trim({t})"


def duckdb_clean_html_sql(expr: str) -> str:
    """DuckDB SQL expression equivalent to :func:`clean_html_col`.

    Used by ``oracle_sql()`` so the driver can cross-check the cleaner
    on identical inputs.
    """
    pre = expr
    for tag in DROP_SUBTREE_TAGS:
        pre = f"regexp_replace({pre}, {_sql_quote(_drop_subtree_re(tag))}, '', 'g')"
    pre = f"regexp_replace({pre}, {_sql_quote(COMMENT_RE)}, '', 'g')"
    pre = f"regexp_replace({pre}, {_sql_quote(BR_RE)}, chr(10), 'g')"
    pre = f"regexp_replace({pre}, {_sql_quote(BLOCK_BOUNDARY_RE)}, chr(1), 'g')"
    block_t = _duckdb_block_text_sql("b")
    anchor_list = f"regexp_extract_all(b, {_sql_quote(ANCHOR_TEXT_RE)}, 1)"
    anchor_len = (
        f"coalesce(list_sum(list_transform({anchor_list}, "
        f"x -> length({_duckdb_block_text_sql('x')}))), 0)"
    )
    scored = (
        f"list_transform(string_split({pre}, chr(1)), "
        f"b -> struct_pack(t := {block_t}, a := {anchor_len}))"
    )
    kept = (
        f"list_filter({scored}, s -> length(s.t) > 0 AND "
        f"(2 * s.a <= length(s.t) OR length(s.t) > {LONG_BLOCK_CHARS}))"
    )
    # DuckDB array_to_string([]) is NULL; Spark array_join([]) is ''.
    return f"coalesce(array_to_string(list_transform({kept}, s -> s.t), chr(10)), '')"
