"""SparkSession factory.

The reference drives two hand-configured Hadoop jobs from ``main()``
(ProcessData.java:624-679); here one SparkSession + a lazy DataFrame DAG replaces
both jobs and the HDFS round-trip between them (ProcessData.java:659, 675).

Config choices are scale-motivated (see SCALE.md):

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast conversion — the knobs that keep one static plan valid from
  sf0.001 local tests up to a 1000-executor 100 TB run.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a real
  cluster AQE's coalescing makes the initial number mostly irrelevant as long
  as it is high enough, so production configs should raise it (e.g. 2000+)
  and let AQE shrink.
- Arrow enabled: every Python-side kernel in this engine is a Pandas UDF /
  applyInPandas (batched Arrow transfer), never a row-at-a-time Python UDF.
- Session timezone pinned UTC so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: The directory that holds this package: Python workers import the
#: package's UDFs from it, wherever the driver was started.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "hadoop-web-browsing-logs-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``local[cpus]`` for tests; on a cluster the master/executor settings come
    from spark-submit and everything here still applies.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce to the advisory partition size rather than preserving
        # default parallelism: fewer, right-sized post-shuffle tasks — the
        # setting Spark's own docs recommend on busy clusters, and measured
        # faster here (per-task scheduling overhead dominates small shuffles)
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # advisory post-shuffle partition size. The 64 MB default is right on
        # a cluster (network shuffle, executor memory budgets); in single-JVM
        # local mode there is no network and the fixture shuffles are a few
        # MB, so 64 MB coalesces every post-shuffle stage to 1 task and
        # serializes the CPU-heavy verify/join stages (measured: the banded
        # MinHash-LSH pair stage runs 35% faster at 1 MB advisory, nothing
        # regresses). Local default 1 MB; clusters should keep 64 MB+ via
        # this env var or spark-submit conf (parallelismFirst=true was also
        # re-measured round 6 and is still slower across the board here).
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", str(1024 * 1024)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # static conf, takes effect only on first JVM start: the default
        # whole-stage-codegen class cache (100 entries) thrashes when a
        # workload cycles through many distinct plans — the 26-query bench
        # loop alone generates several hundred codegen stages, so every
        # pass recompiled evicted classes (observed as bimodal 0.6 s / 5 s
        # timings on an otherwise-warm scalar query). 2000 entries holds the
        # whole registry's generated classes; memory cost is a few hundred
        # MB of class metadata at worst, noise next to executor heap.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # the fixture generator has emitted events.ts as TIMESTAMP(NANOS)
        # (rounds 1-2) and TIMESTAMP(US) (round 3); the readers auto-detect
        # the unit, and this flag keeps the nanos case readable (it is a
        # no-op for micros files).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # the package has no install metadata, so a Python worker started
        # outside the checkout can import it only through this path
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def barrier(df: DataFrame, *, eager: bool = False, keep_layout: bool = False) -> DataFrame:
    """Truncate ``df``'s lineage and keep its rows: the package's one
    ``localCheckpoint(`` call. The operators put one where a frame is read
    by several consumers or by every step of a driver-side loop.

    - ``eager=False`` (the default) stores the blocks when the first action
      that reads the frame runs; ``eager=True`` runs a job now.
    - ``keep_layout=True`` plans the checkpoint with AQE off. The
      checkpoint's LogicalRDD records the physical plan's partitioning and
      ordering, but an adaptive plan reports unknown partitioning before it
      runs, so a frame repartitioned and sorted on a join key would be
      exchanged and sorted again by every join that reads it. Only this
      one plan is built non-adaptively; the query around it stays adaptive.

    The blocks are executor-local and outlive the action that consumes the
    frame: a query factory cannot free them without racing its caller's
    action, and they let the branches of one query share one
    materialization. :func:`release_query_caches` frees them between
    queries; a long-lived session calls :func:`release_caches` between
    logical requests."""
    if not keep_layout:
        return df.localCheckpoint(eager=eager)
    conf = df.sparkSession.conf
    old = conf.get("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df.localCheckpoint(eager=eager)
    finally:
        conf.set("spark.sql.adaptive.enabled", old)


def _barrier_rdd(df: DataFrame):
    """The JVM RDD holding a lazy :func:`barrier`'s blocks: its analyzed
    plan is a ``LogicalRDD`` over it."""
    return df._jdf.queryExecution().analyzed().rdd()


class SessionMemo:
    """A bounded memo of shared lazy :func:`barrier` tables,
    keyed by ``(applicationId, sf_dir)``: the graph edge list, the Lloyd
    centers and the SemDeDup assignment that several registered queries
    read, built once per session like a warehouse table every consumer
    scans. Every instance registers itself with :func:`release_caches`
    (which clears it) and :func:`release_query_caches` (which keeps it),
    so no memo can be half-wired. Entries evicted past ``MAX_ENTRIES``
    or displaced by :meth:`put` have their checkpoint blocks freed."""

    MAX_ENTRIES = 4

    def __init__(self) -> None:
        self._entries: dict[tuple[str, str], DataFrame] = {}
        _MEMOS.append(self)

    def __len__(self) -> int:
        return len(self._entries)

    def get_or_build(
        self, spark: SparkSession, sf_dir: str, build: Callable[[SparkSession, str], DataFrame]
    ) -> DataFrame:
        """The live entry for ``(spark, sf_dir)``, else ``build(spark,
        sf_dir)`` published as the new entry."""
        cached = self._entries.get((spark.sparkContext.applicationId, sf_dir))
        if cached is not None:
            return cached
        return self.put(spark, sf_dir, build(spark, sf_dir))

    def put(self, spark: SparkSession, sf_dir: str, df: DataFrame) -> DataFrame:
        """Publish ``df`` (a direct lazy :func:`barrier` result),
        freeing the entry it displaces and the oldest entries past the
        cap."""
        key = (spark.sparkContext.applicationId, sf_dir)
        old = self._entries.pop(key, None)
        if old is not None:
            unpersist_checkpoint(old)
        while len(self._entries) >= self.MAX_ENTRIES:
            unpersist_checkpoint(self._entries.pop(next(iter(self._entries))))
        self._entries[key] = df
        return df

    def clear(self) -> None:
        self._entries.clear()

    def pin(self) -> set[int]:
        """Materialize every entry and return the ids of the RDDs holding
        their checkpoint blocks. An entry no action has run on yet still
        reads its lineage, which may hold query-local checkpoints the
        caller is about to drop, so it is checkpointed now. An entry that
        cannot be materialized or identified is dropped: the next fetch
        rebuilds it."""
        ids: set[int] = set()
        for key, df in list(self._entries.items()):
            try:
                rdd = _barrier_rdd(df)
                if not rdd.isCheckpointed():
                    rdd.count()
                ids.add(rdd.id())
            except Py4JError:
                del self._entries[key]
        return ids


_MEMOS: list[SessionMemo] = []


def release_query_caches(spark: SparkSession) -> int:
    """Per-query storage hygiene: drop the cached DataFrames and
    :func:`barrier` blocks the last query pinned, while keeping every
    :class:`SessionMemo` entry alive and usable — unlike
    :func:`release_caches`, which clears the memos too. Query-local
    blocks are rebuilt from parquet on every call by contract, so
    dropping them between queries changes no result and no timed work;
    it only stops a long session from accumulating dead blocks that
    later queries pay for in GC and storage pressure. Returns the number
    of RDDs released."""
    protected: set[int] = set()
    for memo in _MEMOS:
        protected |= memo.pin()
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    released = 0
    for jrdd in list(jmap.values()):
        if jrdd.id() not in protected:
            jrdd.unpersist(False)
            released += 1
    return released


def unpersist_checkpoint(df: DataFrame) -> None:
    """Best-effort: free the storage blocks behind a lazy :func:`barrier`
    frame being evicted from a memo; dropping the Python reference alone
    would leak them until :func:`release_caches`. Anything unexpected
    (plan shape, a dead JVM at interpreter shutdown) degrades to a no-op.

    A barrier's lineage is truncated, so the evicted entry is unusable
    after this call. The registered queries re-fetch through the memo at
    build time and each query is collected before the next one builds, so
    no live plan holds an evicted entry."""
    try:
        _barrier_rdd(df).unpersist(False)
    except Exception:
        pass


def release_caches(spark: SparkSession) -> int:
    """:func:`release_query_caches` after clearing every
    :class:`SessionMemo`, so no block is kept. Returns the number of
    persistent RDDs released."""
    for memo in _MEMOS:
        memo.clear()
    return release_query_caches(spark)
