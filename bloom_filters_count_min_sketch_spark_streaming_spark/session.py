"""SparkSession factory with engine defaults.

Used by tests and bench. The driver harness passes its own session into
``queries()`` callables, so every query must also work on a vanilla session;
this factory only encodes the *preferred* configuration (AQE, Arrow,
right-sized shuffle partitions).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_mem() -> str:
    """24g, capped at three quarters of physical RAM so the driver heap
    (which holds the local executors too) cannot outgrow the host."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(24 * 1024, ram_mb * 3 // 4)}m"


def get_spark(app_name: str = "bfcms-engine") -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Scale notes (100 TB mandate): on a real cluster the same config applies
    except ``master`` comes from the environment and shuffle partitions
    should be ~2-3x total cores; AQE coalesces them back down at runtime, so
    oversizing is safe while undersizing causes spill.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        # AQE: runtime partition coalescing + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # One shuffle partition per local core; AQE coalesces small stages.
        .config("spark.sql.shuffle.partitions", cpus)
        # Arrow for every JVM<->Python columnar hop (toPandas, pandas_udf).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp rendering regardless of host TZ.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
        # Python workers fork from daemon.py, which keeps pyspark.zip's
        # import caches across tasks (~100 ms less per Python task); the
        # package root on the workers' path lets it import from any cwd.
        .config("spark.python.daemon.module", f"{__package__}.daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    return builder.getOrCreate()


import atexit
import shutil
import tempfile
from contextlib import contextmanager

# Per-invocation stage-snapshot dirs (guide §3.3 lineage truncation: a
# multiply-referenced intermediate written once to tmp parquet so every
# consumer subtree is a cheap scan with real file statistics). The returned
# query plan lazily scans its snapshot, so the writing operator can never
# delete it synchronously; r13 leaked these dirs (ADVICE r13 #2). Every
# snapshot, and every bounded streaming run's checkpoint
# (streaming/runner._ephemeral_ckpt), registers here; release_query_state
# releases them between queries in every sweep (bench.time_query, which
# tools/retime.py, tools/profile_query.py, tools/scaling_probe.py and
# tools/scale_stress.py time through, and tools/check_oracle.py), with an
# atexit sweep catching one-shot sessions.
_TMP_SNAPSHOT_DIRS: list[str] = []


def tmp_snapshot_dir(prefix: str = "bfcms_snap_", dir: str | None = None) -> str:
    """A fresh tmp dir for a stage snapshot (or a bounded streaming run's
    checkpoint), registered for deferred cleanup.

    Written FRESH inside the calling query on every invocation — never keyed
    on input paths, never reused across runs (reuse would be result caching,
    which the bench contract forbids). Callers write parquet under the
    returned dir and return a plan scanning it; release_tmp_snapshots()
    reclaims the dirs once the consuming action is done.
    """
    d = tempfile.mkdtemp(prefix=prefix, dir=dir)
    _TMP_SNAPSHOT_DIRS.append(d)
    return d


def release_tmp_snapshots() -> None:
    """Delete every registered snapshot and streaming-checkpoint dir (call
    AFTER the query's action: the lazily returned plan references the
    snapshot until materialized). Only dirs this process registered are
    touched, so a concurrent session's live dirs are safe."""
    while _TMP_SNAPSHOT_DIRS:
        shutil.rmtree(_TMP_SNAPSHOT_DIRS.pop(), ignore_errors=True)


atexit.register(release_tmp_snapshots)


def release_query_state(spark: SparkSession) -> None:
    """Unpersist every persisted RDD and delete the registered tmp dirs once
    a query's result has been materialized.

    Many queries persist/localCheckpoint intermediates their lazily
    returned plan still references, so they CANNOT unpersist before
    returning; without sweep-level cleanup those caches accumulate in
    executor storage across all 400+ queries. Stage snapshots and
    streaming checkpoints are dead once the query's action ran; without
    this a 496-query sweep leaks hundreds of tmp dirs."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for k in jmap.keySet().toArray():
        jmap.get(k).unpersist()
    release_tmp_snapshots()


@contextmanager
def checkpoint_scope(spark: SparkSession):
    """Unpersist every RDD persisted inside the scope on exit.

    ``df.localCheckpoint(eager=True)`` persists the checkpointed RDD in
    executor storage for the REST OF THE SESSION (there is no DataFrame
    API to release it), so a query that checkpoints a bounded intermediate
    leaks it into every later query of a bench/correctness sweep. Wrap the
    checkpoint-and-consume region in this scope and materialize the result
    (collect a bounded report, or write at rest) BEFORE the scope closes —
    the lazily returned plan must not reference the checkpoint afterward.

    Diffing getPersistentRDDs before/after scopes the unpersist to RDDs
    created inside (queries run serially in every harness here, so the
    diff cannot catch another query's cache)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    before = {int(k) for k in jmap.keySet().toArray()}
    try:
        yield
    finally:
        jafter = spark.sparkContext._jsc.getPersistentRDDs()
        for k in jafter.keySet().toArray():
            if int(k) not in before:
                jafter.get(k).unpersist()
