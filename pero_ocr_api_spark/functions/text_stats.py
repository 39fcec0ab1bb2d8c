"""Text-analysis scalar operators for training-data pipelines.

All pure ``pyspark.sql.functions`` expressions (JVM, whole-stage
codegen) with DuckDB SQL emitters so every operator is oracle-checkable
by the driver. Regexes stay in the Java-regex ∩ RE2 ∩ Python-re common
subset.

Operators:
* token counting — whitespace tokens and a BPE-ish regex tokenizer;
* quality scoring — alpha ratio / stopword ratio / length blend;
* language ID — stopword-hit n-gram heuristic over en/de/es/fr;
* the quality gate — lang-ID agreement, quality floor, token band;
* document fingerprint — md5 over aggressively normalized text
  (whitespace/case folded), the exact-dedup key.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

STOPWORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
    "es": ("el", "la", "de", "que", "los", "una", "por", "con"),
    "fr": ("le", "la", "les", "des", "est", "une", "dans", "pour"),
}
# deterministic tie-break priority (first wins ties)
LANG_PRIORITY = ("en", "de", "es", "fr")


def _stop_re(lang: str) -> str:
    return r"\b(?:" + "|".join(STOPWORDS[lang]) + r")\b"


# ---------------------------------------------------------------- Spark ---


def token_count_col(col: Column) -> Column:
    """Whitespace token count (0 for blank strings)."""
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def bpe_token_count_col(col: Column) -> Column:
    """Token count under a BPE-ish regex (words / digits / punct)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_RE), F.lit(0)))


def _alpha_ratio(col: Column) -> Column:
    alpha = F.length(F.regexp_replace(col, r"[^A-Za-z]", ""))
    return alpha / F.greatest(F.length(col), F.lit(1))


def _stop_hits(col: Column, lang: str) -> Column:
    return F.size(
        F.regexp_extract_all(F.lower(col), F.lit(_stop_re(lang)), F.lit(0))
    )


def quality_score_col(col: Column) -> Column:
    """Heuristic quality in [0,1]: alpha ratio + stopword density + length."""
    n_tok = token_count_col(col)
    stop_ratio = _stop_hits(col, "en") / F.greatest(n_tok, F.lit(1))
    len_score = F.least(F.length(col), F.lit(500)) / F.lit(500.0)
    q = (
        0.5 * _alpha_ratio(col)
        + 0.3 * F.least(stop_ratio * 5.0, F.lit(1.0))
        + 0.2 * len_score
    )
    return F.round(q, 4)


def lang_guess_col(col: Column) -> Column:
    """Stopword-hit language ID with deterministic tie-break."""
    hits = {lang: _stop_hits(col, lang) for lang in LANG_PRIORITY}
    expr = F.lit(LANG_PRIORITY[-1])
    # build CASE from lowest priority upward so earlier langs win ties
    for i in range(len(LANG_PRIORITY) - 2, -1, -1):
        lang = LANG_PRIORITY[i]
        cond = None
        for other in LANG_PRIORITY[i + 1 :]:
            c = hits[lang] >= hits[other]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


# the training-filter quality gate's thresholds
QUALITY_MIN = 0.55
TOKENS_MIN, TOKENS_MAX = 10, 2000


def quality_gate_cols(text: Column, lang: Column) -> tuple[Column, Column, Column]:
    """The quality gate a curation pipeline runs per doc, as its three
    checks: lang-ID agreement with ``lang``, quality score at least
    :data:`QUALITY_MIN`, token count in [TOKENS_MIN, TOKENS_MAX]. A doc
    passes when all three hold."""
    return (
        lang_guess_col(text) == lang,
        quality_score_col(text) >= QUALITY_MIN,
        token_count_col(text).between(TOKENS_MIN, TOKENS_MAX),
    )


def normalize_text_col(col: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint_col(col: Column) -> Column:
    """Exact-dedup fingerprint: md5 of normalized text (engine-portable)."""
    return F.md5(normalize_text_col(col).cast("binary"))


# --------------------------------------------------------------- DuckDB ---


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def duckdb_token_count_sql(expr: str) -> str:
    return (
        f"CASE WHEN length(trim({expr})) = 0 THEN 0 "
        f"ELSE len(regexp_split_to_array(trim({expr}), '\\s+')) END"
    )


def duckdb_bpe_token_count_sql(expr: str) -> str:
    return f"len(regexp_extract_all({expr}, {_q(BPE_TOKEN_RE)}))"


def _duckdb_stop_hits(expr: str, lang: str) -> str:
    return f"len(regexp_extract_all(lower({expr}), {_q(_stop_re(lang))}))"


def duckdb_quality_score_sql(expr: str) -> str:
    alpha = (
        f"(length(regexp_replace({expr}, '[^A-Za-z]', '', 'g')) / "
        f"greatest(length({expr}), 1))"
    )
    n_tok = duckdb_token_count_sql(expr)
    stop_ratio = f"({_duckdb_stop_hits(expr, 'en')} / greatest({n_tok}, 1))"
    len_score = f"(least(length({expr}), 500) / 500.0)"
    return (
        f"round(0.5 * {alpha} + 0.3 * least({stop_ratio} * 5.0, 1.0) "
        f"+ 0.2 * {len_score}, 4)"
    )


def duckdb_lang_guess_sql(expr: str) -> str:
    hits = {lang: _duckdb_stop_hits(expr, lang) for lang in LANG_PRIORITY}
    out = _q(LANG_PRIORITY[-1])
    for i in range(len(LANG_PRIORITY) - 2, -1, -1):
        lang = LANG_PRIORITY[i]
        conds = " AND ".join(
            f"{hits[lang]} >= {hits[other]}" for other in LANG_PRIORITY[i + 1 :]
        )
        out = f"CASE WHEN {conds} THEN {_q(lang)} ELSE {out} END"
    return out


def duckdb_fingerprint_sql(expr: str) -> str:
    return f"md5(trim(regexp_replace(lower({expr}), '\\s+', ' ', 'g')))"
