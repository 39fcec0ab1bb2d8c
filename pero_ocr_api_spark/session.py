"""SparkSession factory tuned for the extraction workload.

Scale design (local[32] sandbox stands in for a 1000-executor cluster):

* AQE on — runtime coalescing of shuffle partitions, skew-join
  splitting.  At 100 TB the media stage is the skew hazard (media-heavy
  documents), so ``spark.sql.adaptive.skewJoin`` stays enabled; the
  extract plan spreads media rows by their unique ``media_ref``.
* Arrow on — every Python-side kernel is an Arrow-batched pandas UDF;
  ``maxRecordsPerBatch`` is kept small for the media stage because each
  record can carry a multi-megapixel decoded page.
* ``spark.sql.shuffle.partitions`` defaults to the local core count;
  a real cluster run would set it to ~2-3x total executor cores and let
  AQE coalesce.
"""

from __future__ import annotations

import functools
import itertools
import os
from collections.abc import Callable, Hashable, Iterator
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType

# Arrow batch size for media-carrying stages. Sandbox fixture pages
# are ~25 KB so 256 rows/batch ≈ 6 MB; production 5 MP pages would
# tune this down (batch bytes ≈ rows x page size must fit worker
# memory). Bigger batches amortize the per-batch Python/Arrow cost,
# which measurably dominates at small batch sizes.
MEDIA_ARROW_BATCH = 256


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Default ``spark.driver.memory``: half the host's ``MemTotal``,
    capped at 32g. In local mode the driver heap is the whole JVM's
    heap, and a heap near the box's RAM lets the kernel OOM-kill the
    JVM before the collector ever runs."""
    try:
        with open(meminfo) as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except OSError:  # no procfs: ask the OS instead
        kb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 1024
    return f"{min(kb // 2048, 32 * 1024)}m"


def get_spark(
    app_name: str = "pero_ocr_api_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cores=None`` uses ``SPARK_GRAFT_CPUS`` (driver contract) or all
    local cores. On a real cluster the master/deploy settings come from
    spark-submit; everything here is master-agnostic tuning.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    # Shuffle/spill dir: the sandbox root fs has very high syscall
    # latency; tmpfs measurably removes a data-proportional tax on
    # every shuffle. A real cluster would point this at local NVMe.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark_local"

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(MEDIA_ARROW_BATCH),
        )
        # Floor on scan parallelism (guide §6): a single just-under-
        # maxPartitionBytes parquet file otherwise scans as ONE task
        # and serializes every downstream operator of that branch
        # (measured: the 126 MB lineitem file made usage_statistics
        # 2-3x slower). Derived from the session's core count — on a
        # real cluster this is the executor-core total, so the floor
        # stays scale-adaptive rather than a local constant; scans of
        # many-file tables are unaffected (the floor only splits when
        # the natural split count is lower).
        .config("spark.sql.files.minPartitionNum", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    # free every registered cache while the session is still alive:
    # the handles would be unusable afterwards
    release()
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """``rows`` (a driver-side result, such as a trained model) as a
    DataFrame that reading runs no job for: with Arrow on (get_spark
    turns it on), a pandas frame under
    ``spark.sql.execution.arrow.localRelationThreshold`` becomes a
    LocalRelation, where a list becomes a parallelized RDD."""
    import pandas as pd

    struct = DataType.fromDDL(schema)
    return spark.createDataFrame(pd.DataFrame(rows, columns=struct.names), struct)


def per_context(build: Callable) -> Callable:
    """Memoize ``build()`` per active SparkContext: each Column call is
    a py4j round trip, and a Column is a handle into the context it was
    built in, so a new context gets a fresh build."""
    built = [(object(), None)]  # the one slot: (context, build())

    @functools.wraps(build)
    def get():
        sc = SparkContext._active_spark_context
        # two threads racing here both build; either result is valid
        hit = built[0]
        if hit[0] is not sc:
            hit = built[0] = (sc, build())
        return hit[1]

    return get


# --- the cache registry --------------------------------------------------
# Every DataFrame the package persists (cache) or checkpoints
# (checkpoint) is recorded here under a scope key (a tuple), and
# release() is the one path that frees it:
#   ("run", run_id)     one extract run's media-UDF output
#                       (plans.extract.release_run);
#   ("query",)          the registry query being built; plans.queries
#                       releases it when the next query is built;
#   ("memo", kind, key) a corpus memo, one live key per kind (memo());
#   ("stage", n, ...)   a ``with cache_scope():`` block, freed on exit.
# A scope opened inside another extends the outer key, so releasing a
# scope also releases every scope opened inside it.
# The exception: eager lineage cuts whose result the caller keeps call
# localCheckpoint directly, because the returned DataFrame reads their
# blocks for as long as it lives, past any scope they could name here:
#   dedup.connected_components              the edge and label tables;
#   streaming.stream_incremental_dedup and  the default corpus bands,
#   stream_incremental_embedding_dedup      read by every micro-batch.
QUERY_SCOPE = ("query",)
_CACHES: dict[tuple, list] = {}  # DataFrames and checkpoint RDDs
_OPEN: list[tuple] = []
_SCOPE_IDS = itertools.count()


def cache(df: DataFrame, scope: tuple | None = None) -> DataFrame:
    """``df.cache()``, recorded under ``scope`` — by default the
    innermost open scope, else the query scope."""
    df = df.cache()
    _record(df, scope)
    return df


def checkpoint(df: DataFrame, scope: tuple | None = None) -> DataFrame:
    """``df.localCheckpoint()`` (computed now, plan cut to a scan of the
    result), its RDD recorded like ``cache`` and freed by ``release``."""
    df = df.localCheckpoint()
    _record(df._jdf.queryExecution().logical().rdd(), scope)
    return df


def _record(handle, scope: tuple | None) -> None:
    _CACHES.setdefault(scope or (_OPEN[-1] if _OPEN else QUERY_SCOPE), []).append(handle)


def release(*prefix: Hashable) -> None:
    """Unpersist every DataFrame (or checkpoint RDD) recorded under a
    scope whose key starts with ``prefix`` (no prefix: every scope)."""
    for key in [k for k in _CACHES if k[: len(prefix)] == prefix]:
        for df in _CACHES.pop(key):
            try:
                df.unpersist(False)
            except Exception:  # its session is already stopped
                pass


@contextmanager
def _recording(key: tuple) -> Iterator[tuple]:
    _OPEN.append(key)
    try:
        yield key
    finally:
        # by key, not pop(): a streaming foreachBatch callback runs on
        # another thread and may open its scope while this one is open
        _OPEN.remove(key)


@contextmanager
def cache_scope(*key: Hashable) -> Iterator[tuple]:
    """Record the caches made inside the block under ``key`` (default:
    a fresh scope nested in the innermost open one) and release them
    on exit, also when the block raises. Yields the key."""
    if not key:
        key = (*(_OPEN[-1] if _OPEN else ("stage",)), next(_SCOPE_IDS))
    try:
        with _recording(key):
            yield key
    finally:
        release(*key)


def memo(kind: str, key: Hashable, build: Callable[[], DataFrame]) -> DataFrame:
    """The DataFrame ``build()`` returns for ``key``, kept across calls
    until a different key of the same ``kind`` replaces it (one live
    entry per kind). Caches made by ``build`` live as long as it."""
    scope = ("memo", kind, key)
    if scope not in _CACHES:
        release("memo", kind)
        with _recording(scope):
            df = build()
        # the result is listed last (a second listing of a cached
        # result is harmless: unpersist is idempotent)
        _CACHES.setdefault(scope, []).append(df)
    return _CACHES[scope][-1]
