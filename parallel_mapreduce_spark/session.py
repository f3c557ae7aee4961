"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (one JVM); the conf below is written so the
same code is correct on a multi-executor cluster at 100 TB:

- AQE on (runtime partition coalescing, skew-join splitting) — replaces the
  reference's fixed ``MAPS_NUM=100`` partition cap (reference
  ``src/mapreduce.h:8``) with runtime-adaptive shuffle parallelism;
- shuffle partitions sized to cores locally; on a real cluster AQE's
  ``advisoryPartitionSizeInBytes`` governs post-shuffle sizing;
- Arrow enabled so the Pandas-UDF slow path is batch-vectorized;
- session timezone pinned to UTC so event-time results are stable across
  environments (and match the DuckDB oracle, which uses naive timestamps).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from contextlib import contextmanager
from pathlib import Path

from pyspark import StorageLevel
from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 8)


def partition_count(spark: SparkSession) -> int:
    """Partition count for explicit repartitions and range shards: the
    context's parallelism with a floor of 8, so a small local session
    still splits CPU-heavy projections. The one place the engine's
    partition policy lives."""
    return max(spark.sparkContext.defaultParallelism, 8)


PART_BYTES = 4 << 20  # on-disk input bytes per data-sized partition


def parallelism(spark: SparkSession, nbytes: int | None) -> int:
    """Partition count for a frame bounded by ``nbytes`` of input: one
    per ``PART_BYTES``, clamped to [1, partition_count(spark)], so a
    200 KB table runs as one task and a corpus spreads over every core.
    An unknown size (None) fails safe to the full partition count."""
    cap = partition_count(spark)
    if nbytes is None:
        return cap
    return max(1, min(cap, -(-nbytes // PART_BYTES)))


def driver_memory() -> str:
    """``spark.driver.memory`` for :func:`get_spark`: the deployment's
    ``SPARK_DRIVER_MEMORY`` when set, else half of physical memory capped
    at 16g (a flat 16g heap outgrows a small machine)."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    half = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2
    return f"{min(half >> 20, 16 << 10)}m"


def get_spark(
    app_name: str = "parallel-mapreduce-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuning applied:
    the launch-time confs here, the runtime ones by apply_runtime_conf."""
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    apply_runtime_conf(spark)
    return spark


_CONFED: set[tuple[int, str]] = set()


def session_key(spark: SparkSession) -> tuple[int, str]:
    """Cache key identifying one live session: object identity alone could
    collide when a freed session's address is reused, so pair it with the
    context's applicationId (a fresh context gets a fresh id)."""
    return (id(spark), spark.sparkContext.applicationId)


def apply_runtime_conf(spark: SparkSession) -> None:
    """Set the runtime-mutable confs this engine's queries rely on.

    Called by :func:`get_spark` on the session it builds, and by
    ``sources.register_views`` — which the registry runs before every
    query — so correctness holds even when the caller (e.g. the
    verification driver) built its own SparkSession without
    :func:`get_spark`. Only runtime-settable keys belong here. Applied once
    per session — every registered query routes through here, and the py4j
    conf roundtrips add up in driver-side plan-build time.
    """
    key = session_key(spark)
    if key in _CONFED:
        return
    _CONFED.add(key)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Runtime bloom-filter semi-join pruning: a selective filtered dim
    # builds a bloom filter that prunes the fact side's shuffle input.
    # Its size thresholds (10MB creation side / 10GB scan side) only
    # trigger at real scale — inert on test data, active at 100 TB;
    # engagement is demonstrated under lowered thresholds in
    # tests/test_plans.py.
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    # events.parquet stores TIMESTAMP(NANOS), illegal for Spark 4's reader;
    # read as int64 nanos and convert in sources.load_table.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Python-data-source filter pushdown (pmr_synth_pd) is opt-in in
    # Spark 4.1 — without this a reader implementing pushFilters() fails
    # outright rather than falling back.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    ensure_package_on_workers(spark.sparkContext)


_CKPT_DIRS: set[str] = set()


def reliable_checkpoint(df):
    """``df.checkpoint(eager=True)`` — the engine's one reliable lineage
    cut. Unlike localCheckpoint — whose blocks live on executors and die
    with them — a reliable checkpoint is written to the SparkContext's
    checkpoint directory, so an executor loss mid-iteration recovers by
    re-reading it instead of killing the query. The directory is set on
    first use per SparkContext: a temp dir locally, removed at
    interpreter exit; on a real cluster point SPARK_GRAFT_CHECKPOINT_DIR
    at durable storage (HDFS/S3), which is never removed here.
    """
    sc = df.sparkSession.sparkContext
    if sc.applicationId not in _CKPT_DIRS:
        path = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
        if not path:
            path = tempfile.mkdtemp(prefix="pmr_spark_ckpt_")
            atexit.register(shutil.rmtree, path, ignore_errors=True)
        sc.setCheckpointDir(path)
        _CKPT_DIRS.add(sc.applicationId)
    return df.checkpoint(eager=True)


_SHIPPED: set[str] = set()
_PKG_ZIP: str | None = None


def ensure_package_on_workers(sc) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    Worker processes unpickle functions defined in this package by module
    reference; unless the package is on their import path, any RDD closure or
    Pandas UDF from here fails with ModuleNotFoundError. Zipping the package
    once per process, and shipping the zip once per SparkContext, makes the
    engine self-contained no matter how the calling session was created
    (driver harness, tests, bench). The zip is removed at interpreter exit.
    """
    global _PKG_ZIP
    app_id = sc.applicationId
    if app_id in _SHIPPED:
        return
    if _PKG_ZIP is None:
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        stem = os.path.join(tempfile.gettempdir(), f"pmr_spark_pkg_{os.getpid()}")
        _PKG_ZIP = shutil.make_archive(
            stem,
            "zip",
            root_dir=os.path.dirname(pkg_dir),
            base_dir=os.path.basename(pkg_dir),
        )
        atexit.register(Path(_PKG_ZIP).unlink, missing_ok=True)
    sc.addPyFile(_PKG_ZIP)
    _SHIPPED.add(app_id)


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Set a session conf for the duration of a block, then restore it.

    ``spark.conf.get(key, None)`` returns None for an UNSET conf — not the
    engine default — so restore must UNSET in that case; a guarded
    ``set(prev)`` silently leaks the override into every later query on
    the shared session (this exact bug shipped twice before this helper
    existed). The set happens inside the protected region, so an
    exception anywhere after entry still restores."""
    key_prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, value)
        yield
    finally:
        if key_prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, key_prev)


def state_sized_shuffle(spark: SparkSession, nbytes: int | None):
    """Scope ``spark.sql.shuffle.partitions`` to ``parallelism(spark,
    nbytes)`` for a STREAMING run, ``nbytes`` being the stream's source
    table size (None when unknown).

    Stateful operators latch their state-partition count to it at query
    start, and every micro-batch pays a state-store load and commit per
    partition per operator: the default 200 cost a 5-batch replay 62s at
    sf0.01, and 8 partitions spent ~0.8s of commits on one 10k-row batch
    that one partition commits in ~40ms. A resumed checkpoint keeps the
    count recorded in its offset log."""
    return scoped_conf(
        spark, "spark.sql.shuffle.partitions", str(parallelism(spark, nbytes))
    )


# Persisted-frame residency bound (round-9 review finding): anonymous
# .persist() frames created inside query plans (PQ codebooks, SemDeDup's
# tagged seeds / assigned frame) have no owner to unpersist them, so a
# long session (bench best-of-N, the 317-query driver run, the pytest
# suite) accumulates cached blocks forever. This ring gives them the
# PENDING_UNCACHE treatment: appending the newest evicts (unpersists)
# the oldest beyond the cap. Eviction is ALWAYS safe — an unpersisted
# plan falls back to ordinary recompute, it never breaks — and by the
# time a frame is _PERSIST_RING_CAP persists old, the query that created
# it has been materialized or abandoned, so eviction costs nothing. The
# cap comfortably exceeds the largest single composition's persist count
# (ann_recall_matrix_clustered creates ~8 before materializing).
_PERSIST_RING: list = []
_PERSIST_RING_CAP = 16
_PERSIST_RING_LOCK = threading.Lock()
# Evictions since process start — a composition that persists more than
# _PERSIST_RING_CAP frames before materializing would silently lose its
# speedups to recompute fallback; this counter makes a cap overrun
# observable (tests/test_plans.py pins the eviction semantics, and any
# future composition can assert the counter didn't move across its own
# build). Read via persist_evictions().
_PERSIST_EVICTIONS = 0


def persist_evictions() -> int:
    """Number of ring evictions so far (monotone, process-wide)."""
    return _PERSIST_EVICTIONS


def bounded_persist(df):
    """persist() whose cache residency is bounded to the newest
    _PERSIST_RING_CAP cached plans session-wide (oldest are unpersisted);
    a frame whose plan is already cached is returned without a slot.
    Thread-safe: streaming query listeners / foreachBatch threads may
    race the driver loop, so ring mutation holds a lock."""
    global _PERSIST_EVICTIONS
    if df.storageLevel != StorageLevel.NONE:
        # Already cached: its first holder owns the slot. A second slot
        # would evict sooner and unpersist the cache both share.
        return df
    df.persist()
    evicted = []
    with _PERSIST_RING_LOCK:
        _PERSIST_RING.append(df)
        while len(_PERSIST_RING) > _PERSIST_RING_CAP:
            evicted.append(_PERSIST_RING.pop(0))
            _PERSIST_EVICTIONS += 1
    for old in evicted:
        try:
            old.unpersist()
        except Exception:
            pass  # session torn down, or already unpersisted
    return df
