"""Fixed workload definitions.

Everything that decides what a workload runs lives here, in the
benchmark's own files, so that an edit elsewhere in the repository
cannot change a workload. The seed argument only changes the content
the generators draw; sizes and query lists are constants.
"""

from __future__ import annotations

# --- extract-raster ----------------------------------------------------

# corpus.doc_record(seed, idx) for idx < RASTER_DOCS, pinned edge-case
# docs 0-16 included (idx 15 is a JPEG page, idx 16 a scanned PDF,
# idx 9-14 digital PDFs; the rest are PNG pages).
RASTER_DOCS = 480

# Untimed extract runs before the timed ones. In a fresh session the
# run time keeps falling over the first two or three runs (Python
# workers start, the JIT compiles the generated stage code).
WARMUP_RUNS = 4

# --- query-suite -------------------------------------------------------

# Generated table sizes (rows): the row counts of the repository's
# sf0.1 testdata, for the tables the suite reads. At the sf0.01 counts
# most queries' time is fixed planning and job start-up, not work
# (perfbench/BASELINE.md).
TABLE_ROWS = {
    "documents": 5_000,
    "events": 100_000,
    "lineitem": 600_000,
}

# bench.py headline names whose time is mostly work at these sizes
# (work_share >= 0.5 in perfbench/BASELINE.md: at most half of the
# query's time is fixed planning and job start-up), one per operator
# family: percentile aggregate, HTML cleaner, regex redaction, bigram
# LM over the token stream, event windows. One warm pass takes four to
# six seconds on four cores, so a 15 s run holds three or more passes
# and the per-query median drops a slow one. Left out: the dedup and
# similarity queries (work_share under 0.3: their time is mostly
# launching many small jobs), repetition_stats (15 s a pass alone),
# and completion_ratio, top_ngrams and pack_blocks (same families as
# kept ones; they would leave room for only two passes).
QUERY_SUITE = (
    "median_score",
    "clean_html_docs",
    "pii_redaction",
    "lm_quality_scores",
    "event_transitions",
)

WORKLOADS = ("extract-raster", "query-suite")
