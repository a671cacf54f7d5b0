"""SparkSession builder.

Local testing runs a single JVM (``local[N]``); the configuration is
nevertheless the one we would ship to a 1000-executor cluster reading
100 TB:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting
  for hub keys -- the trade graph's China/US analogs).
- ``spark.sql.shuffle.partitions`` sized to the core count locally; on a
  real cluster this is a starting point that AQE re-plans per stage.
- Arrow enabled so the Pandas-UDF path (multimodal decode, grouped ops)
  transfers columnar batches, not pickled rows.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (and any other engine) bit-for-bit.

Operators never change a session conf for good: a loop that needs
different physical settings runs inside :func:`scoped_conf`, which puts
the caller's values back when the loop exits, by return or by raise.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession


def local_cpus() -> int:
    """Cores of the local master: ``SPARK_GRAFT_CPUS``, else the host's
    core count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


@contextmanager
def scoped_conf(spark: SparkSession,
                confs: Mapping[str, str]) -> Iterator[None]:
    """Set session ``confs`` for the body of a ``with`` block and put
    the values read on entry back on exit, including when the body
    raises.  Nested scopes unwind in order, so the outermost scope
    restores what the caller had.

    Spark plans a DataFrame when an action or a checkpoint runs, not
    when it is built, so a loop that wants its settings applied to a
    lazy result must checkpoint that result (``eager=False`` costs no
    job) before the scope closes."""
    prior = {key: spark.conf.get(key) for key in confs}
    for key, value in confs.items():
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, value in prior.items():
            spark.conf.set(key, value)


def _default_driver_memory() -> str:
    """Half the host's physical memory, capped at 48g: the JVM heap
    grows with GC timing, and a heap allowed past physical memory gets
    the process OOM-killed instead of collected (``SPARK_DRIVER_MEM``
    overrides)."""
    mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(48 * 1024, mb)}m"


def get_spark(app_name: str = "graphdb_cia_factbook_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = local_cpus()
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory())
        # whole-stage codegen emits a class per stage; a long session
        # (60+ queries) fills the default 240m JIT code cache, after
        # which HotSpot stops compiling and everything runs interpreted
        # (observed 10x+ slowdowns late in a session)
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing")
        # generated methods above HotSpot's 8000-bytecode HugeMethodLimit
        # are NEVER JIT-compiled; wide fused stages (12-column min-hash
        # aggregates) hit this and run interpreted with pathological
        # compile-queue stalls in long sessions -- fall back to the
        # Volcano path for such stages instead (observed 6-20x on the
        # MinHash pipeline late in a session)
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # compiled whole-stage classes are cached by source text in an
        # LRU of 100 entries by default, below one warm pass of the
        # benchmark's scan_curation queries (about 160 distinct
        # classes; graph_loops 71), so the LRU evicted every class
        # before its next use and each pass recompiled them all with
        # Janino (~0.8s/pass).  2000 is well above one session's
        # working set.  A static conf: only a fresh session takes it.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: Broadcast variables created by operators (the Arrow top-k query
#: blocks) register here so ``clear_scratch`` can release executor
#: copies between logically independent queries -- otherwise repeated
#: registry sweeps in one session accumulate broadcast memory.
_TRACKED_BROADCASTS: list = []


def track_broadcast(bc):
    """Register an operator-created broadcast for release by
    :func:`clear_scratch`.  Returns ``bc`` unchanged."""
    _TRACKED_BROADCASTS.append(bc)
    return bc


#: Scratch parquet directories written by eager operators (the
#: blocked Arrow top-k's phase-1 candidate spill) register here so
#: ``clear_scratch`` can delete them -- the returned DataFrames read
#: them lazily, so the operator itself can never know when the last
#: consumer is done.  Same lifecycle caveat as localCheckpoints.
_TRACKED_SCRATCH_DIRS: list[str] = []


def track_scratch_dir(path: str) -> str:
    """Register an operator-written scratch directory for deletion by
    :func:`clear_scratch`.  Returns ``path`` unchanged."""
    _TRACKED_SCRATCH_DIRS.append(path)
    return path


def clear_scratch(spark: SparkSession) -> int:
    """Drop all persisted/checkpointed RDD blocks and cached plans.

    Iterative operators (PageRank supersteps) and multi-consumer
    pipelines (MinHash shingle/pair tables) materialize scratch via
    ``localCheckpoint`` -- non-recomputable blocks that must outlive
    their own query but are dead weight afterwards.  Leaving them in
    the block manager measurably degrades every LATER job in the
    session (observed 3-5x on the bench); run this between logically
    independent queries.  Returns the number of RDDs dropped.  Session
    confs are not its business: every loop restores its own on exit
    (:func:`scoped_conf`).

    CAUTION: call only when no live DataFrame still reads a
    localCheckpoint -- checkpointed blocks are non-recomputable, so
    clearing under a live consumer fails its next action."""
    import gc

    jrdds = spark.sparkContext._jsc.getPersistentRDDs()
    ids = list(jrdds.keySet().toArray())
    for rid in ids:
        jrdds.get(rid).unpersist(True)
    spark.catalog.clearCache()
    # non-blocking: a still-live DataFrame that references a tracked
    # broadcast can lazily re-broadcast from the driver copy
    dropped_broadcasts = bool(_TRACKED_BROADCASTS)
    while _TRACKED_BROADCASTS:
        try:
            _TRACKED_BROADCASTS.pop().unpersist(blocking=False)
        except Exception:
            pass
    # scratch parquet spills (blocked Arrow top-k phase-1 candidates)
    # -- non-recomputable like checkpoints: the same "no live
    # consumer" caution above applies
    import shutil
    had_scratch = bool(_TRACKED_SCRATCH_DIRS) or dropped_broadcasts
    while _TRACKED_SCRATCH_DIRS:
        shutil.rmtree(_TRACKED_SCRATCH_DIRS.pop(), ignore_errors=True)
    # gc releases the py4j handles of what was just dropped so the JVM
    # side can actually free it -- pure overhead (~20ms/call) when this
    # sweep found nothing, which is most queries in a bench pass
    if ids or had_scratch:
        gc.collect()
    return len(ids)
