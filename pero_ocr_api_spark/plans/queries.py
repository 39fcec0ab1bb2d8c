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
# hash-green (4 = green in some r1-r4 round but not re-sampled in r5;
# 5 = green in CORRECTNESS_r05). Names absent were never
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
    # green in CORRECTNESS_r05
    "argmin_fair_key": 5, "auth_lookup": 5, "avg_score": 5,
    "bpe_merges": 5, "cancel_anti_join": 5, "clean_html_docs": 5,
    "completion_ratio": 5, "dedup_components": 5,
    "embedding_dedup_keep": 5, "engine_dict": 5, "event_transitions": 5,
    "expiry_scan": 5, "fair_dequeue": 5, "format_dispatch": 5,
    "funnel_conversion": 5, "in_list_filter": 5, "incremental_dedup": 5,
    "incremental_embedding_dedup": 5, "keys_with_waiting": 5,
    "last_touch_attribution": 5, "latest_version": 5,
    "line_char_counts": 5, "line_dedup_stats": 5, "link_graph": 5,
    "lm_quality_scores": 5, "median_score": 5, "navigate_joins": 5,
    "null_or_filter": 5, "pack_blocks": 5, "pack_sequences": 5,
    "pii_redaction": 5, "point_lookup": 5, "point_lookup_malformed": 5,
    "processed_counts": 5, "quality_weighted_sample": 5,
    "request_status": 5, "rolling_event_rate": 5, "sorted_page_names": 5,
    "source_overlap": 5, "state_histogram": 5, "table_profile": 5,
    "timeout_requeue": 5, "tokenize_corpus": 5, "tokenize_corpus_bpe": 5,
    "top_ngrams": 5, "union_window_live": 5, "url_dedup_groups": 5,
    "usage_statistics": 5, "user_sessions": 5, "vocab_topk": 5,
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
