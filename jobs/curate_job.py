"""spark-submit entry point for the training-data curation pipeline.

The batch composition a pretraining ingest runs over a crawled corpus,
chaining the repo's curation operators in their canonical
cheap-filter → exact-verify order:

1. quality gate      — lang-ID agreement, quality score, token band
                       (`training_filter_pipeline` predicates);
2. repetition gate   — Gopher-style duplicate-token / duplicate-3-gram
                       fractions (integer cross-multiplications);
2b. LM quality gate  — (with --lm-tail-pct) CCNet-style perplexity
                       filter: score every survivor under the
                       survivors' own bigram model
                       (operators/lm.bigram_lm_scores), drop the worst
                       P percent by average log-probability (cutoff =
                       one distributed percentile sketch, reported);
3. exact dedup       — md5 fingerprint, keep lowest doc_id;
4. near dedup        — MinHash → banded LSH (skew-capped buckets) →
                       n-gram Jaccard verify ≥ threshold, keep min id;
4b. embedding dedup  — (with --embeddings) corpus-scale ANN self-join
                       (bucketed sign-LSH, clique→star cap, NO
                       broadcast of either side): drop the higher id
                       of every pair with cosine ≥ --cosine — the 5th
                       dedup family, semantic near-dups that share no
                       n-grams;
4c. closure          — (with --closure) union the text + embedding
                       pair lists and run connected components
                       (min-label propagation + pointer jumping),
                       keeping exactly one doc (min id) per dup
                       component: pairwise drop-the-higher-id
                       under-dedups chain-shaped dup graphs because
                       near-dup similarity is not transitive;
4d. incremental      — (with --band-index / --embedding-index) drop
                       batch docs that near-dup the HISTORICAL corpus
                       via the persistent bucketed indexes
                       (jobs/build_dedup_index.py): the corpus was
                       hashed once at index-build time, only the batch
                       hashes here, verification is candidates-only —
                       the daily-ingest shape; history wins;
5. mix sampling      — deterministic md5-hash stratified sampling by
                       lang (reproducible across runs/cluster sizes;
                       unlisted langs keep 100%).

Outputs the kept doc_id list plus a one-line JSON funnel report with
per-stage counts AND the LSH skew diagnostics (how many buckets the
`MAX_BUCKET` star-cap collapsed, largest bucket seen) — for both the
text LSH and the embedding LSH — the metric a 100 TB run must
surface, since a silently-capped mega-bucket is the difference
between "covered everything" and "truncated the web's boilerplate
cluster". --output-rows additionally writes the kept *rows*
repartitioned by doc_id hash (the bucket(doc_id)-clustered,
Iceberg-shaped handoff a downstream training-mix job reads).

    spark-submit --py-files dist/pero_ocr_api_spark.zip \\
        jobs/curate_job.py \\
        --documents s3://bucket/documents --output s3://bucket/kept_ids \\
        --embeddings s3://bucket/embeddings
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--documents", required=True, help="documents table path")
    p.add_argument("--output", required=True, help="kept doc_id table path")
    p.add_argument("--jaccard", type=float, default=0.5)
    p.add_argument(
        "--embeddings",
        default=None,
        help="embeddings table path (vec_id = doc_id); enables the "
        "embedding near-dup stage",
    )
    p.add_argument(
        "--cosine", type=float, default=0.999,
        help="embedding near-dup cosine threshold",
    )
    p.add_argument(
        "--output-rows",
        default=None,
        help="also write kept rows repartitioned by doc_id hash "
        "(Iceberg-shaped handoff)",
    )
    p.add_argument(
        "--closure",
        action="store_true",
        help="transitive dedup: union the text-LSH and embedding pair "
        "lists, run connected components, keep one doc (min id) per "
        "component. The pairwise default drops every pair's higher id, "
        "which under-dedups chain-shaped dup graphs (A~B, B~C with "
        "A<B<C keeps both A and the un-paired chain interior); the "
        "closure is the exact keep-one-per-cluster semantics.",
    )
    p.add_argument(
        "--lm-tail-pct",
        type=float,
        default=None,
        help="drop the worst P%% of quality-gate survivors by average "
        "bigram log-probability under the survivors' own corpus model "
        "(CCNet-style perplexity tail cut)",
    )
    p.add_argument(
        "--band-index",
        default=None,
        help="persistent text LSH band index TABLE (written by "
        "jobs/build_dedup_index.py): additionally drop batch docs that "
        "near-dup the HISTORICAL corpus — only the batch is hashed "
        "(plans/io.band_index_candidates); requires --corpus for the "
        "candidates-only Jaccard verify",
    )
    p.add_argument(
        "--corpus",
        default=None,
        help="historical corpus documents path (doc_id, text) — the "
        "verify side of --band-index",
    )
    p.add_argument(
        "--embedding-index",
        default=None,
        help="persistent embedding ANN band index TABLE "
        "(build_dedup_index.py --embeddings): additionally drop batch "
        "docs whose embedding near-dups the historical corpus — only "
        "the batch is hashed (plans/io.band_index_candidates); "
        "requires --embeddings (batch vectors) and --corpus-embeddings "
        "(historical vectors) for the exact-cosine verify",
    )
    p.add_argument(
        "--corpus-embeddings",
        default=None,
        help="historical corpus embeddings path (vec_id, embedding) — "
        "the verify side of --embedding-index",
    )
    p.add_argument("--no-sampling", action="store_true")
    p.add_argument("--cores", type=int, default=None, help="local mode only")
    args = p.parse_args(argv)
    if args.lm_tail_pct is not None and not (0 < args.lm_tail_pct < 100):
        p.error("--lm-tail-pct must be in (0, 100)")
    if args.band_index and not args.corpus:
        p.error("--band-index requires --corpus")
    if args.embedding_index and not (
        args.embeddings and args.corpus_embeddings
    ):
        p.error(
            "--embedding-index requires --embeddings and "
            "--corpus-embeddings"
        )
    return args


def main(argv=None) -> int:
    args = parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        from pero_ocr_api_spark.session import get_spark

        spark = get_spark(app_name="curate_job", cores=args.cores)

    from pero_ocr_api_spark.session import cache_scope

    # every stage cache lives in the job's cache scope: freed when the
    # job ends, also when it raises
    with cache_scope() as job:
        return _curate(spark, args, job)


def _curate(spark, args, job: tuple) -> int:
    from pyspark.sql import functions as F

    from pero_ocr_api_spark.functions import text_stats as ts
    from pero_ocr_api_spark.operators import dedup
    from pero_ocr_api_spark.session import cache, checkpoint, release

    t0 = time.monotonic()
    docs = spark.read.parquet(args.documents).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text", "lang", "source"
    )
    n_input = docs.count()

    # -- 1+2: per-doc gates, one scan ------------------------------------
    lang_ok, quality_ok, len_ok = ts.quality_gate_cols(F.col("text"), F.col("lang"))
    tok_rep, gram_rep = dedup.repetition_flags_cols(F.col("text"))
    # the gate output lives in a sub-scope of the job: the LM cut
    # below frees it (with its scores) once the cut output is cached
    gate = (*job, "gate")
    survivors = cache(
        docs.filter(lang_ok & quality_ok & len_ok & ~tok_rep & ~gram_rep).select(
            "doc_id", "text", "lang"
        ),
        gate,
    )
    n_gated = survivors.count()

    # -- 2b (--lm-tail-pct): CCNet-style LM perplexity tail cut ----------
    lm_report = None
    if args.lm_tail_pct:
        from pero_ocr_api_spark.operators.lm import bigram_lm_scores

        # cached: the scoring DAG (explode + gram window + unigram
        # join) feeds BOTH the cutoff aggregate and the survivors join
        scores = cache(
            bigram_lm_scores(survivors).select(
                "doc_id", (F.col("sum_lp") / F.col("n_bigrams")).alias("avg_lp")
            ),
            gate,
        )
        # one distributed percentile sketch -> a scalar cutoff (a
        # 1-row metric read, not a data path)
        cutoff = scores.agg(
            F.percentile_approx("avg_lp", args.lm_tail_pct / 100.0, 10000)
        ).first()[0]
        # docs too short to score (no bigrams) pass through — the
        # token-band gate above already owns the length policy
        survivors = cache(
            survivors.join(scores, "doc_id", "left")
            .filter(F.col("avg_lp").isNull() | (F.col("avg_lp") >= cutoff))
            .select("doc_id", "text", "lang")
        )
        n_gated_lm = survivors.count()  # materializes before the release
        release(*gate)
        lm_report = {
            "after_lm_filter": n_gated_lm,
            "cutoff_avg_lp": cutoff,
            "tail_pct": args.lm_tail_pct,
        }

    # -- 3: exact dedup (keep lowest doc_id per fingerprint) -------------
    exact_kept = dedup.exact_keep(survivors)
    exact_docs = survivors.join(exact_kept.select("doc_id"), "doc_id")
    n_exact = exact_docs.count()

    # -- 4: LSH near-dup with skew diagnostics ---------------------------
    text_bands: list = []
    vpairs = dedup.lsh_near_pairs(exact_docs, args.jaccard, bands_out=text_bands)
    skew = dedup.bucket_skew(text_bands[0])
    if args.closure:
        # edges accumulate across families; one closure after stage 4b
        edge_sets = [vpairs]
        deduped = exact_kept
        n_deduped = None
    else:
        near_dups = vpairs.select(F.col("id2").alias("doc_id")).distinct()
        # each stage's survivors are checkpointed, not just counted: the
        # next stage joins `deduped` again, and without the cut every
        # later plan nests all earlier stages (a ~70 MB plan string at
        # the final write with both index stages, which AQE re-renders
        # on every plan update)
        deduped = checkpoint(exact_kept.join(near_dups, "doc_id", "left_anti"), job)
        n_deduped = deduped.count()

    # -- 4b: embedding near-dup (corpus-scale ANN self-join) -------------
    emb_report = None
    if args.embeddings:
        from pero_ocr_api_spark.operators import similarity

        emb = spark.read.parquet(args.embeddings).select("vec_id", "embedding")
        # one-row metadata probe for the vector width (not a data path)
        dim = emb.select(F.size("embedding").alias("d")).first()["d"]
        surv_emb = emb.join(
            deduped.select(F.col("doc_id").alias("vec_id")), "vec_id"
        )
        bands_holder: list = []
        emb_pairs = similarity.ann_self_pairs(
            surv_emb, args.cosine, dim, bands_out=bands_holder
        )
        if args.closure:
            edge_sets.append(emb_pairs.select("id1", "id2"))
            n_deduped_emb = None
        else:
            emb_dups = emb_pairs.select(F.col("id2").alias("doc_id")).distinct()
            deduped = checkpoint(deduped.join(emb_dups, "doc_id", "left_anti"), job)
            n_deduped_emb = deduped.count()
        # same skew metrics as the text LSH: the bands are already
        # cached by ann_self_pairs, so this is one cheap aggregate
        emb_report = {
            "after_embedding_dedup": n_deduped_emb,
            "skew": dedup.bucket_skew(bands_holder[0], id_col="vec_id"),
        }

    # -- 4c (--closure): one transitive closure over every pair family ---
    closure_report = None
    if args.closure:
        edges = edge_sets[0]
        for e in edge_sets[1:]:
            edges = edges.unionByName(e)
        cc_skew: dict = {}
        comps = dedup.connected_components(edges, report_out=cc_skew)
        drops = comps.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("doc_id")
        )
        deduped = checkpoint(exact_kept.join(drops, "doc_id", "left_anti"), job)
        n_deduped = deduped.count()
        closure_report = {
            "n_dup_components": comps.select("component").distinct().count(),
            "families": 1 + (1 if args.embeddings else 0),
            # convergence/skew telemetry: a long tail = high-diameter
            # chain, a huge round 1 = one dense mega-component
            "skew": cc_skew,
        }

    # -- 4d: incremental dedup vs the HISTORICAL corpus indexes ----------
    # (the daily-ingest shape: the corpus was hashed ONCE at index-build
    # time — jobs/build_dedup_index.py — and only the batch is hashed
    # here; verification is candidates-only on both sides. Batch docs
    # matching the corpus are dropped unconditionally: history wins.)
    incr_report: dict = {}
    if args.band_index:
        from pero_ocr_api_spark.plans.io import TEXT_BANDS

        def jaccard(cand, batch):
            corpus = spark.read.parquet(args.corpus).select(
                F.col("doc_id").alias("_raw_id"),
                F.col("doc_id").try_cast("long").alias("doc_id"),
                "text",
            )
            # fail-loud guard: a non-numeric corpus doc_id casts to NULL,
            # the verify join silently empties, and every band-index
            # candidate would "fail verification" — incremental dedup
            # becoming a no-op with no error. One narrow-column scan.
            n_uncastable = corpus.filter(
                F.col("doc_id").isNull() & F.col("_raw_id").isNotNull()
            ).count()
            if n_uncastable:
                raise ValueError(
                    f"--corpus doc_id has {n_uncastable} values that do not "
                    "cast to long; the band index keys corpus ids as long, so "
                    "these rows would be dropped from verification silently"
                )
            pairs = dedup.candidate_jaccard(cand, batch, corpus.drop("_raw_id"))
            return pairs.filter(F.col("jaccard") >= args.jaccard)

        batch = docs.join(deduped.select("doc_id"), "doc_id").select("doc_id", "text")
        deduped, incr_report["incremental_text"] = _index_dedup(
            spark, job, deduped, "text", TEXT_BANDS, args.band_index, batch, jaccard
        )
    if args.embedding_index:
        from pero_ocr_api_spark.operators import similarity
        from pero_ocr_api_spark.plans.io import EMBEDDING_BANDS

        def cosine(cand, batch):
            corpus = spark.read.parquet(args.corpus_embeddings).select(
                "vec_id", "embedding"
            )
            return similarity.candidate_cosine(
                cand, similarity._with_norm(batch), similarity._with_norm(corpus)
            ).filter(F.col("cosine") >= args.cosine)

        batch = (
            spark.read.parquet(args.embeddings)
            .select("vec_id", "embedding")
            .join(deduped.select(F.col("doc_id").alias("vec_id")), "vec_id")
        )
        dim = batch.select(F.size("embedding").alias("d")).first()
        if dim is not None:  # empty batch: nothing to dedup
            deduped, incr_report["incremental_embedding"] = _index_dedup(
                spark, job, deduped, "embedding", EMBEDDING_BANDS,
                args.embedding_index, batch, cosine, dim["d"],
            )

    # -- 5: deterministic stratified mix sampling ------------------------
    if args.no_sampling:
        kept = deduped.select("doc_id")
    else:
        # unlisted langs keep everything (100%): a generic ingest job
        # must never silently drop a language the mix table forgot
        keep = dedup.stratified_keep_col(F.col("doc_id"), F.col("lang"), 100)
        kept = deduped.filter(keep).select("doc_id")
    kept.write.mode("overwrite").parquet(args.output)
    n_kept = spark.read.parquet(args.output).count()
    if args.output_rows:
        # the bucket(doc_id)-shaped handoff: kept rows hash-clustered
        # on the key downstream jobs join/merge on
        (
            docs.join(spark.read.parquet(args.output), "doc_id")
            .repartition(spark.sparkContext.defaultParallelism, "doc_id")
            .write.mode("overwrite")
            .parquet(args.output_rows)
        )

    funnel = {
        "input": n_input,
        "after_quality_and_repetition": n_gated,
        "after_exact_dedup": n_exact,
        "after_near_dedup": n_deduped,
        "kept": n_kept,
    }
    if lm_report is not None:
        funnel["after_lm_filter"] = lm_report["after_lm_filter"]
    if emb_report is not None and emb_report["after_embedding_dedup"] is not None:
        funnel["after_embedding_dedup"] = emb_report["after_embedding_dedup"]
    if closure_report is not None:
        funnel["closure"] = closure_report
    for fam, rep in incr_report.items():
        funnel[fam] = rep

    print(
        json.dumps(
            {
                "funnel": funnel,
                "lsh_skew": skew,
                **(
                    {"embedding_skew": emb_report["skew"]}
                    if emb_report is not None
                    else {}
                ),
                **(
                    {
                        "lm_filter": {
                            "cutoff_avg_lp": lm_report["cutoff_avg_lp"],
                            "tail_pct": lm_report["tail_pct"],
                        }
                    }
                    if lm_report is not None
                    else {}
                ),
                "wall_sec": round(time.monotonic() - t0, 2),
                "output": args.output,
            }
        )
    )
    return 0


def _index_dedup(spark, job, deduped, name, family, index, batch, verify, dim=None):
    """Stage 4d for one dedup family: drop the batch docs whose
    candidates from the persistent band index `index` pass
    ``verify(cand, batch)`` (which applies the family's threshold).
    Returns the checkpointed survivors and the stage report."""
    from pyspark.sql import functions as F

    from pero_ocr_api_spark.plans.io import band_index_candidates
    from pero_ocr_api_spark.session import cache, checkpoint, release

    # candidates live until the stage count (a job sub-scope)
    stage = (*job, f"{name}_index")
    cand = cache(band_index_candidates(spark, batch, index, family, dim), stage)
    n_cand = cand.count()
    drops = verify(cand, batch).select(F.col("batch_id").alias("doc_id")).distinct()
    deduped = checkpoint(deduped.join(drops, "doc_id", "left_anti"), job)
    n_after = deduped.count()
    release(*stage)
    return deduped, {
        "candidates": n_cand,
        f"after_incremental_{name}_dedup": n_after,
    }


if __name__ == "__main__":
    sys.exit(main())
