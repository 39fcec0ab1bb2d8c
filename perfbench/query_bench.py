"""The query-suite workload: registry queries over seeded tables.

Each query is timed by materializing every column into a noop sink,
never by ``.count()``, which lets the optimizer drop the work the
query's users pay for. The warm-up pass collects each result, and
after the timed passes those results are compared with the query's
DuckDB twin (``QUERIES[name][1]``).
"""

from __future__ import annotations

import contextlib
import os
import sys
import time

from perfbench import host, spec
from perfbench.tables import write_tables


def _frames_match(got, exp) -> bool:
    """Same columns and the same multiset of rows; floats within 1e-9."""
    import math

    import pandas as pd

    def norm(df):
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            if pd.api.types.is_numeric_dtype(df[c]):
                df[c] = df[c].astype("float64")
        return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)

    got, exp = norm(got), norm(exp)
    if list(got.columns) != list(exp.columns) or len(got) != len(exp):
        return False
    for c in got.columns:
        for x, y in zip(got[c], exp[c]):
            if isinstance(x, float) and isinstance(y, float):
                if not (x == y or abs(x - y) < 1e-9 or (math.isnan(x) and math.isnan(y))):
                    return False
            elif not (x == y or (pd.isna(x) and pd.isna(y))):
                return False
    return True


class QueryWorkload:
    name = "query-suite"

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.sf_dir = os.path.join(work, "tables")
        self.setup_parts: dict[str, float] = {}
        self.results: dict = {}

    def generate(self) -> None:
        t0 = time.perf_counter()
        write_tables(self.sf_dir, self.seed, spec.TABLE_ROWS)
        self.setup_parts["generate_s"] = time.perf_counter() - t0

    def warm_up(self, spark) -> None:
        """One pass that collects every result (kept for the check),
        then one untimed noop pass: the first noop pass after the
        collect runs 10-20% slower than the ones after it."""
        from pero_ocr_api_spark.plans.queries import QUERIES

        t0 = time.perf_counter()
        for name in spec.QUERY_SUITE:
            try:
                self.results[name] = QUERIES[name][0](spark, self.sf_dir).toPandas()
            except Exception as e:  # a failing query is counted, not fatal
                print(f"perfbench: {name} raised {e!r}", file=sys.stderr)
                self.results[name] = e
        self.suite_pass(spark)
        self.setup_parts["warmup_s"] = time.perf_counter() - t0

    def suite_pass(self, spark, tracer=None) -> dict[str, float]:
        """One timed pass; a query's time covers building its plan and
        writing every column. With a ``tracer`` (traced run) each query
        gets a span carrying its shuffle and spill bytes."""
        from pero_ocr_api_spark.plans.queries import QUERIES

        meter = host.StageMeter(spark) if tracer is not None else None
        walls = {}
        for name in spec.QUERY_SUITE:
            if isinstance(self.results.get(name), Exception):
                continue
            span = tracer.span(f"query.{name}") if tracer else contextlib.nullcontext()
            t0 = time.perf_counter()
            with span as sp:
                QUERIES[name][0](spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            walls[name] = time.perf_counter() - t0
            if tracer is not None:
                sp.attrs.update(meter.read())
        return walls

    def check(self) -> tuple[int, int]:
        """(attempted, failed) queries against their DuckDB twins."""
        import duckdb

        from pero_ocr_api_spark.plans.queries import QUERIES

        con = duckdb.connect()
        for t in spec.TABLE_ROWS:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        failed = 0
        for name in spec.QUERY_SUITE:
            got = self.results[name]
            ok = not isinstance(got, Exception) and _frames_match(got, con.execute(QUERIES[name][1]).df())
            if not ok:
                print(f"perfbench: {name} differs from its DuckDB twin", file=sys.stderr)
                failed += 1
        con.close()
        return len(spec.QUERY_SUITE), failed

    def trace(self, spark, tracer, walls: list[dict[str, float]], untraced_pass_s: float) -> dict[str, float]:
        """Per-query medians of the timed passes, plus one traced pass
        that reads shuffle and spill bytes after each query."""
        import statistics

        m = {
            f"query.{name}.s": statistics.median(w[name] for w in walls if name in w)
            for name in spec.QUERY_SUITE
            if any(name in w for w in walls)
        }
        t0 = time.perf_counter()
        self.suite_pass(spark, tracer)
        traced = time.perf_counter() - t0
        spans = [s for s in tracer.spans if s.name.startswith("query.")]
        m["queries.shuffle_bytes"] = sum(s.attrs["shuffle_bytes"] for s in spans)
        m["queries.spill_bytes"] = sum(s.attrs["spill_bytes"] for s in spans)
        m["queries.cached_bytes_after"] = host.cached_bytes(spark)
        m["trace.overhead_share"] = traced / untraced_pass_s - 1.0
        return m
