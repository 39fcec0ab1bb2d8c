"""Unified query registry: name → (spark_builder, duckdb_sql | None).

Aggregates the reference-parity relational queries and the
training-data operators (dedup / similarity / text analysis) into the
single registry consumed by ``__spark_entry__``.

Registry ORDER is the driver's sampling rotation: the correctness
driver verifies a fixed-size prefix of this dict per round, so entries
rotate by LEAST-RECENTLY-verified first — never-verified entries lead
(round 0), then ascending last-green round (`_DRIVER_VERIFIED` maps
each name to the latest CORRECTNESS_r*.json round in which it was
hash-green). A permanently-demoted "verified forever" bucket would let
a regression in an old query escape driver detection (round-5 advice);
with the round-keyed rotation the driver periodically re-samples
everything. All entries are equally covered in-repo either way: the
pytest parity sweep (tests/test_queries_parity.py) runs EVERY entry
against its DuckDB twin at sf0.001 on every test run.

Building a query through this registry first releases the caches the
previous query made (the query scope of the session cache registry),
so no query rides a cache another query paid for.
"""

from __future__ import annotations

from functools import wraps

from pero_ocr_api_spark.plans.queries_events import EVENTS_QUERIES
from pero_ocr_api_spark.plans.queries_relational import RELATIONAL_QUERIES
from pero_ocr_api_spark.plans.queries_textops import TEXTOPS_QUERIES
from pero_ocr_api_spark.session import QUERY_SCOPE, release

# name -> latest driver CORRECTNESS round in which the query was
# hash-green (4 = green in some r1-r4 round but not re-sampled since;
# 6 = green in CORRECTNESS_r06). Names absent were never
# driver-verified and sort first.
_DRIVER_VERIFIED = {
    # r1-r4 green, not re-sampled in r5
    "ann_lsh_buckets": 4, "ann_multiprobe_topk": 4,
    "ann_self_near_pairs": 4, "ann_topk": 4, "benchmark_contamination": 4,
    "cosine_topk": 4, "dedup_keep_list": 4, "embedding_near_dup": 4,
    "exact_dup_groups": 4, "ivf_topk": 4, "knn_label_vote": 4,
    "lang_guess_counts": 4, "lsh_bucket_histogram": 4,
    "lsh_mega_bucket_pairs": 4, "minhash_lsh_pairs": 4,
    "ngram_jaccard_pairs": 4, "quality_scores": 4, "repetition_stats": 4,
    "simhash_buckets": 4, "simhash_near_pairs": 4,
    "stratified_sample_counts": 4, "token_stats": 4,
    "training_filter_pipeline": 4, "winnow_overlap": 4,
    # green in CORRECTNESS_r05 and again in CORRECTNESS_r06
    "argmin_fair_key": 6, "auth_lookup": 6, "avg_score": 6,
    "bpe_merges": 6, "cancel_anti_join": 6, "clean_html_docs": 6,
    "completion_ratio": 6, "dedup_components": 6,
    "embedding_dedup_keep": 6, "engine_dict": 6, "event_transitions": 6,
    "expiry_scan": 6, "fair_dequeue": 6, "format_dispatch": 6,
    "funnel_conversion": 6, "in_list_filter": 6, "incremental_dedup": 6,
    "incremental_embedding_dedup": 6, "keys_with_waiting": 6,
    "last_touch_attribution": 6, "latest_version": 6,
    "line_char_counts": 6, "line_dedup_stats": 6, "link_graph": 6,
    "lm_quality_scores": 6, "median_score": 6, "navigate_joins": 6,
    "null_or_filter": 6, "pack_blocks": 6, "pack_sequences": 6,
    "pii_redaction": 6, "point_lookup": 6, "point_lookup_malformed": 6,
    "processed_counts": 6, "quality_weighted_sample": 6,
    "request_status": 6, "rolling_event_rate": 6, "sorted_page_names": 6,
    "source_overlap": 6, "state_histogram": 6, "table_profile": 6,
    "timeout_requeue": 6, "tokenize_corpus": 6, "tokenize_corpus_bpe": 6,
    "top_ngrams": 6, "union_window_live": 6, "url_dedup_groups": 6,
    "usage_statistics": 6, "user_sessions": 6, "vocab_topk": 6,
}

_ALL: dict[str, tuple] = {**RELATIONAL_QUERIES, **TEXTOPS_QUERIES, **EVENTS_QUERIES}


def _after_release(build):
    @wraps(build)
    def run(*args, **kwargs):
        release(*QUERY_SCOPE)
        return build(*args, **kwargs)

    return run


# least-recently-verified first; name tiebreak keeps the order
# deterministic across builds
QUERIES: dict[str, tuple] = {
    name: (_after_release(_ALL[name][0]), *_ALL[name][1:])
    for name in sorted(
        _ALL, key=lambda n: (_DRIVER_VERIFIED.get(n, 0), n)
    )
}
