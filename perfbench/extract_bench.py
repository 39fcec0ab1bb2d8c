"""The extract-raster workload: set-up, timed runs, output check, trace.

One timed run is what ``jobs/extract_job.py`` does without
``--resume``: ``run_extract`` and ``write_extracted`` to parquet,
which materializes every output column. Runs are a closed loop: the
next starts when the previous one has finished writing.
"""

from __future__ import annotations

import multiprocessing
import os
import statistics
import sys
import time

from perfbench import host, inputs, spec
from perfbench.reference import check_rows, expected_rows, kernel_pass
from perfbench.trace import Tracer, kernel_metrics, traced_kernel_pass


def _noop(df) -> float:
    """Wall seconds to materialize every column of ``df`` into a noop sink."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _explode(docs):
    """The span explode ``run_extract`` starts with."""
    from pyspark.sql import functions as F

    return docs.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


def _identity(batches):
    yield from batches


class ExtractWorkload:
    name = "extract-raster"

    def __init__(self, seed: int, work: str, cores: int):
        self.seed, self.work, self.cores = seed, work, cores
        self.docs: list[dict] = []
        self.media: list[dict] = []
        self.setup_parts: dict[str, float] = {}

    # --- set-up ---------------------------------------------------------

    def generate(self) -> None:
        """Inputs from the seed, rendered in a pool of ``cores`` processes."""
        pool = multiprocessing.get_context("spawn").Pool(self.cores)
        try:
            t0 = time.perf_counter()
            self.docs, self.media = inputs.raster_corpus(pool, self.seed)
            self.setup_parts["generate_s"] = time.perf_counter() - t0
        finally:
            pool.close()
            pool.join()

    def stage(self, spark) -> None:
        """Write the inputs as parquet tables and read them back cached,
        as the job reads its ``--documents`` and ``--media`` tables."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from pero_ocr_api_spark.sources.tables import DOCUMENTS_SCHEMA, MEDIA_SCHEMA

        t0 = time.perf_counter()
        frames = {}
        for name, rows, schema in (
            ("documents", self.docs, DOCUMENTS_SCHEMA),
            ("media", self.media, MEDIA_SCHEMA),
        ):
            path = os.path.join(self.work, "input", f"{name}.parquet")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(pa.Table.from_pylist(rows, to_arrow_schema(schema)), path)
            frames[name] = spark.read.schema(schema).parquet(path).cache()
            frames[name].count()
        self.docs_df, self.media_df = frames["documents"], frames["media"]
        self.setup_parts["stage_s"] = time.perf_counter() - t0

    def warm_up(self, spark) -> None:
        """Full runs that start the Python workers and let the JIT
        settle: run times keep falling over the first few runs."""
        t0 = time.perf_counter()
        self.warmup_walls = [self.batch(spark, f"warmup{i}")["wall_s"] for i in range(spec.WARMUP_RUNS)]
        self.setup_parts["warmup_s"] = time.perf_counter() - t0

    # --- one timed run --------------------------------------------------

    def batch(self, spark, run_id: str) -> dict:
        """One closed-loop run; returns its wall time and lineage."""
        from pero_ocr_api_spark.plans.extract import release_run, run_extract
        from pero_ocr_api_spark.plans.io import write_extracted

        out = os.path.join(self.work, run_id)
        s0 = host.steal_ticks()
        t0 = time.perf_counter()
        extracted, lineage = run_extract(spark, self.docs_df, self.media_df, run_id=run_id)
        write_extracted(spark, extracted, out)
        wall = time.perf_counter() - t0
        steal = host.steal_fraction(s0, host.steal_ticks(), wall)
        lineage_rows = [r.asDict() for r in lineage.collect()]
        release_run(run_id)
        return {"dir": out, "wall_s": wall, "steal": steal, "lineage": lineage_rows}

    # --- output check -----------------------------------------------------

    def reference(self) -> None:
        """Untraced single-process kernel pass and the expected rows."""
        self.results = kernel_pass(self.media)
        self.expected = expected_rows(self.docs, self.results)
        self.truth = {m["media_ref"]: m["truth_text"] for m in self.media}

    def check(self, spark, batch: dict) -> tuple[int, int]:
        """(attempted, failed) documents of one run's written output."""
        rows = [r.asDict(recursive=True) for r in spark.read.parquet(batch["dir"]).collect()]
        bad = check_rows(rows, self.expected, self.truth)
        if bad:
            print(f"perfbench: {self.name} {batch['dir']}: {len(bad)} docs differ, first {bad[:3]}", file=sys.stderr)
        return len(self.expected), len(bad)

    # --- traced run -------------------------------------------------------

    def trace(self, spark, tracer: Tracer, batches: list[dict], warm_wall_s: float) -> dict[str, float]:
        """Per-layer metrics: the timed runs' lineage rows, a traced
        kernel pass, and noop-sink sub-plans of each JVM layer over
        cached inputs."""
        from pyspark.sql import functions as F

        from pero_ocr_api_spark.plans.extract import media_path, release_run, run_extract, text_path
        from pero_ocr_api_spark.plans.io import read_done_ids, write_extracted
        from pero_ocr_api_spark.operators.restitch import restitch

        # the reference pass has warmed the kernel in this process;
        # the untraced pass follows the traced one for the same reason
        _, traced_wall = traced_kernel_pass(tracer, self.media)
        _, untraced_wall = host.timed(kernel_pass, self.media)
        m, slowest = kernel_metrics(tracer, untraced_wall)
        m["trace.overhead_share"] = traced_wall / untraced_wall - 1.0
        print(f"perfbench: {self.name} slowest media_ref {slowest}")
        # straggling: slowest over median partition of the media UDF
        # stage, from the lineage rows of each timed run
        ratios = [
            max(walls) / max(statistics.median(walls), 1)
            for walls in ([r["wall_ms"] for r in b["lineage"]] for b in batches)
            if walls
        ]
        m["extract.partition_wall_ms.max_over_p50"] = statistics.median(ratios) if ratios else 0.0

        # driver-side cost of building the run_extract plan (no action)
        builds = []
        for i in range(3):
            with tracer.span("extract.plan_build"):
                builds.append(host.timed(run_extract, spark, self.docs_df, self.media_df, run_id=f"build{i}")[1])
            release_run(f"build{i}")
        m["extract.plan_build.s"] = statistics.median(builds)

        meter = host.StageMeter(spark)
        docs = self.docs_df
        with tracer.span("extract.explode"):
            m["extract.explode.s"] = _noop(_explode(docs))
        spans = _explode(docs).cache()
        spans.count()
        with tracer.span("extract.text_path"):
            m["extract.text_path.s"] = _noop(text_path(spans))
        m["extract.text_path.rows"] = text_path(spans).count()

        parts = spark.sparkContext.defaultParallelism
        refs = (
            spans.filter(F.col("kind") == "media")
            .select("doc_id", "offset", "media_ref")
            .repartition(parts, "media_ref")
        )
        blobs = self.media_df.select("media_ref", "media_kind", "media_bytes").repartition(parts, "media_ref")
        joined = refs.join(blobs, "media_ref", "left").select(
            "doc_id", "offset", "media_ref", "media_kind", "media_bytes"
        )
        meter.mark()
        with tracer.span("extract.media_join"):
            m["extract.media_join.s"] = _noop(joined)
        m["extract.media_join.shuffle_bytes"] = meter.read()["shuffle_bytes"]
        with tracer.span("extract.arrow_hop"):
            hop = _noop(joined.mapInPandas(_identity, joined.schema))
        m["extract.arrow_hop.s"] = hop - m["extract.media_join.s"]

        # over the cached explode, so the explode is counted once
        m_rows, _ = media_path(spans, self.media_df, run_id="trace")
        with tracer.span("extract.media_path"):
            m["extract.media_path.s"] = _noop(m_rows)

        union = (
            text_path(spans)
            .unionByName(m_rows.withColumn("kind", F.lit("media")))
            .cache()
        )
        union.count()
        meter.mark()
        with tracer.span("restitch"):
            m["restitch.s"] = _noop(restitch(union))
        m["restitch.shuffle_bytes"] = meter.read()["shuffle_bytes"]

        extracted = restitch(union).cache()
        extracted.count()
        out = os.path.join(self.work, "trace-write")
        with tracer.span("io.write"):
            t0 = time.perf_counter()
            m["io.write.rows"] = write_extracted(spark, extracted, out)
            m["io.write.s"] = time.perf_counter() - t0
        m["io.write.bytes"] = _dir_bytes(out)
        # the timed run does not resume; time the resume read and
        # anti-join against this output, which holds every document
        with tracer.span("io.resume_anti_join"):
            m["io.resume_anti_join.s"] = _noop(
                docs.join(read_done_ids(spark, out), "doc_id", "left_anti")
            )
        for df in (extracted, union, spans):
            df.unpersist()
        release_run("trace")

        # layers of one timed run, none counted twice: the explode
        # once, the media path over the cached explode, restitch and
        # the write over cached inputs (media_join and arrow_hop are
        # parts of media_path, resume_anti_join is not in the run)
        named = (
            m["extract.plan_build.s"]
            + m["extract.explode.s"]
            + m["extract.text_path.s"]
            + m["extract.media_path.s"]
            + m["restitch.s"]
            + m["io.write.s"]
        )
        m["trace.layer_share"] = named / warm_wall_s
        return m
