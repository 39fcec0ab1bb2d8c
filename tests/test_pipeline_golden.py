"""Golden end-to-end tests: the span-sequence equality invariant.

Runs the full distributed pipeline (plans/extract.py) over the
deterministic fixture corpus and compares every document row against
the single-process oracle: exact equality of the span sequence
``(kind, text, media_ref, order)`` plus score/state/exports — the
BASELINE.json per-row invariant, at 100% pass rate.
"""

from __future__ import annotations

import pytest

from pero_ocr_api_spark.plans.extract import run_extract

from tests import oracle


@pytest.fixture(scope="module")
def extracted_rows(spark, docs_df, media_df):
    extracted, lineage = run_extract(spark, docs_df, media_df, run_id="golden")
    rows = {r["doc_id"]: r.asDict(recursive=True) for r in extracted.collect()}
    lineage_rows = [r.asDict() for r in lineage.collect()]
    return rows, lineage_rows


@pytest.fixture(scope="module")
def oracle_rows(corpus_pandas):
    docs_pdf, media_pdf = corpus_pandas
    return {r["doc_id"]: r for r in oracle.extract_docs(docs_pdf, media_pdf)}


def test_all_docs_present(extracted_rows, oracle_rows):
    rows, _ = extracted_rows
    assert sorted(rows) == sorted(oracle_rows)


def test_span_sequence_equality(extracted_rows, oracle_rows):
    """THE invariant: (kind, text, media_ref, order) per document."""
    rows, _ = extracted_rows
    n_checked = 0
    for doc_id, expect in oracle_rows.items():
        got = rows[doc_id]
        got_seq = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in got["spans"]
        ]
        exp_seq = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in expect["spans"]
        ]
        assert got_seq == exp_seq, f"span mismatch for {doc_id}"
        n_checked += 1
    assert n_checked == len(oracle_rows)  # 100% pass rate


def test_scores_states_exports(extracted_rows, oracle_rows):
    rows, _ = extracted_rows
    for doc_id, expect in oracle_rows.items():
        got = rows[doc_id]
        assert got["score"] == expect["score"], doc_id
        assert got["state"] == expect["state"], doc_id
        assert got["alto_xml"] == expect["alto_xml"], doc_id
        assert got["page_xml"] == expect["page_xml"], doc_id
        assert got["txt"] == expect["txt"], doc_id
        assert (got["error"] is None) == (expect["error"] is None), doc_id


def test_min_confidence_reaches_kernel(spark, docs_df, media_df, corpus_pandas):
    """The one extraction setting travels run_extract → media_path →
    the UDF → the kernel: above every line confidence it empties each
    media span and PAGE export, while the ALTO export (pre-filter,
    run_client.py:203-209) records it and keeps the engine stamp."""
    extracted, _ = run_extract(
        spark, docs_df, media_df, run_id="min_conf", min_confidence=1.5
    )
    rows = extracted.collect()
    media_spans = [s for r in rows for s in r.spans if s.kind == "media"]
    assert media_spans and all(s.text == "" for s in media_spans)
    exported = [r for r in rows if r.alto_xml is not None]
    assert exported
    for r in exported:
        assert "<TextLine" not in r.page_xml
        assert "<processingStepSettings>min_confidence:1.5<" in r.alto_xml
        assert "<softwareName>glyph_template_engine</softwareName>" in r.alto_xml
        assert "<softwareVersion>v1</softwareVersion>" in r.alto_xml
        assert "<TextLine" in r.alto_xml
    docs_pdf, media_pdf = corpus_pandas
    expect = oracle.extract_docs(docs_pdf, media_pdf, min_confidence=1.5)
    got = {r.doc_id: r for r in rows}
    for e in expect:
        assert got[e["doc_id"]].alto_xml == e["alto_xml"], e["doc_id"]


def test_failure_states_reachable(extracted_rows):
    rows, _ = extracted_rows
    states = {r["state"] for r in rows.values()}
    assert "PROCESSED" in states
    assert "INVALID_FILE" in states  # corrupt png + bad media kind docs
    assert "NOT_FOUND" in states  # dangling media_ref doc


def test_media_text_matches_ground_truth(extracted_rows, corpus_pandas):
    """Decoded media span text == rendered ground truth after the 0.42
    confidence filter (computable from the truth noise levels only via
    the kernel — here we check zero-noise lines survive verbatim)."""
    rows, _ = extracted_rows
    _, media_pdf = corpus_pandas
    truth = dict(zip(media_pdf["media_ref"], media_pdf["truth_text"]))
    n_media = 0
    for r in rows.values():
        for s in r["spans"]:
            if s["kind"] != "media" or truth.get(s["media_ref"]) is None:
                continue
            truth_lines = truth[s["media_ref"]].split("\n")
            got_lines = s["text"].split("\n") if s["text"] else []
            # every decoded line must appear in truth, in order
            it = iter(truth_lines)
            assert all(line in it for line in got_lines), s["media_ref"]
            n_media += 1
    assert n_media > 50


def test_lineage_rows(extracted_rows):
    _, lineage = extracted_rows
    assert len(lineage) >= 1
    total_in = sum(r["docs_in"] for r in lineage)
    assert total_in > 0
    for r in lineage:
        assert r["run_id"] == "golden"
        assert r["wall_ms"] >= 0
        assert len(r["span_hash"]) == 16


def test_resume_anti_join(spark, docs_df, media_df):
    """U6/checkpoint analog (SURVEY §5.4): kill after a partial run,
    resume, and the union must equal a full run exactly — no dup or
    missing doc_ids, identical span content."""
    from pyspark.sql import functions as F

    def span_hashes(df):
        return {
            r.doc_id: r.h
            for r in df.select(
                "doc_id",
                F.md5(
                    F.concat_ws("|", F.to_json("spans"), "state").cast("binary")
                ).alias("h"),
            ).collect()
        }

    first, _ = run_extract(spark, docs_df.limit(20), media_df, run_id="r1")
    first = first.cache()
    n_done = first.count()
    second, _ = run_extract(
        spark, docs_df, media_df, run_id="r2", resume_from=first
    )
    second = second.cache()
    remaining = second.select("doc_id").collect()
    assert len(remaining) == docs_df.count() - n_done
    done_ids = {r.doc_id for r in first.select("doc_id").collect()}
    assert all(r.doc_id not in done_ids for r in remaining)
    # resumed union == one-shot full run, doc by doc
    full, _ = run_extract(spark, docs_df, media_df, run_id="full")
    resumed = span_hashes(first) | span_hashes(second)
    expected = span_hashes(full)
    assert resumed == expected
