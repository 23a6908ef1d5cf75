"""Structured Streaming plumbing (SURVEY §2.C).

The reference is a DStream micro-batch app (socket text -> per-batch
sketch/state update -> per-batch report). The Structured Streaming mapping:

- **source**: the `events` table replayed as a file stream. To make
  micro-batching real (not one giant batch), the fixture is re-written once
  per process (deleted at exit) into N range-partitioned parquet files and
  streamed with ``maxFilesPerTrigger=1`` -> N deterministic micro-batches
  in event-id (≈ time) order.
- **sink**: in-memory table for the bounded verification runs
  (``availableNow`` trigger processes the full backlog then stops); in
  production the same writeStream targets kafka/parquet/delta unchanged.
- **state**: windowed aggregations, dropDuplicates, stream-stream joins and
  applyInPandasWithState all use the state store (RocksDB provider at real
  scale; config, not code).
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import threading
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bloom_filters_count_min_sketch_spark_streaming_spark.session import tmp_snapshot_dir
from bloom_filters_count_min_sketch_spark_streaming_spark.sources.io import load


def _ephemeral_ckpt() -> str:
    """Checkpoint dir for BOUNDED verification runs (mkdtemp'd per query,
    never resumed): prefer the RAM-backed /dev/shm — the HDFS-backed
    provider's write+rename commits are then memory-speed instead of
    paying disk fsync per micro-batch per partition. Production streams
    point checkpointLocation at durable storage (S3/HDFS); that is a
    config choice, not a code path. Registered with the session's tmp
    dirs, so ``session.release_tmp_snapshots()`` deletes it."""
    root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tmp_snapshot_dir(prefix="bfcms_ckpt_", dir=root)


def events_stream_source(spark: SparkSession, sf_dir: str, n_files: int = 2) -> DataFrame:
    """Unbounded DataFrame replaying `events` as n_files micro-batches.

    The one-time split is range-partitioned by event_id so batch contents
    are deterministic and roughly time-ordered (event_id increases with ts).
    """
    return table_stream_source(spark, sf_dir, "events", "event_id", n_files)


def table_stream_source(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    order_col: str,
    n_files: int = 2,
) -> DataFrame:
    """Unbounded DataFrame replaying any fixture table as n_files
    deterministic micro-batches in ``order_col`` order (range-partitioned
    split + strictly ascending mtime stamps, see events_stream_source)."""

    def write(out: str) -> None:
        batch = load(spark, sf_dir, table)
        batch.repartitionByRange(n_files, order_col).write.parquet(out)

    return _replay_split(spark, sf_dir, table, f"range|{order_col}|{n_files}", write)


def ntile_stream_source(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    order_col: str,
    n_files: int = 4,
) -> DataFrame:
    """Replay a fixture table as EXACTLY-NTILE(n) micro-batches, with the
    batch number carried as a data column.

    table_stream_source splits via repartitionByRange, whose boundaries
    come from sampling — deterministic per fixture but NOT expressible in
    SQL, which is why its oracles must be final-state shaped. This source
    exists for the driver's multi-batch replay canary: batch membership is
    ``NTILE(n) OVER (ORDER BY order_col)`` (exact on a unique order
    column), so a DuckDB oracle can reproduce PER-BATCH state trajectories
    and the hash gate covers the n-batch fold itself, not just the final
    state. The single-task window is a verification-harness cost on
    fixture-sized tables only (production replays don't snapshot through
    a global NTILE).
    """
    from pyspark.sql.window import Window

    def write(out: str) -> None:
        os.makedirs(out)
        bdf = load(spark, sf_dir, table).withColumn(
            "batch",
            F.ntile(n_files).over(Window.orderBy(order_col)).cast("long"),
        )
        bdf.persist()
        try:
            for b in range(1, n_files + 1):
                part_tmp = os.path.join(out, f"w{b}")
                bdf.filter(F.col("batch") == b).coalesce(1).write.parquet(part_tmp)
                (part,) = [
                    f
                    for f in os.listdir(part_tmp)
                    if f.startswith("part-") and f.endswith(".parquet")
                ]
                os.rename(
                    os.path.join(part_tmp, part),
                    os.path.join(out, f"part-{b:05d}.parquet"),
                )
                shutil.rmtree(part_tmp, ignore_errors=True)
        finally:
            bdf.unpersist()

    return _replay_split(spark, sf_dir, table, f"ntile|{order_col}|{n_files}", write)


# Every split this process writes lives under one dir, made on first use and
# deleted at interpreter exit. It outlives release_tmp_snapshots(): a split
# is an input replayed by every later query over the same fixture, not
# per-query state.
_SPLIT_ROOT: str | None = None
_SPLIT_LOCK = threading.Lock()


def _replay_split(
    spark: SparkSession, sf_dir: str, table: str, layout: str, write: Callable[[str], None]
) -> DataFrame:
    """Write (once per process) a fixture table split into one parquet file
    per micro-batch with ``write(dir)``, and return a stream replaying those
    files one per trigger in part-file order.

    The cache key includes the fixture's identity (size+mtime), so a changed
    fixture under the same path can't silently replay stale batches."""
    global _SPLIT_ROOT
    fixture = os.path.join(sf_dir, f"{table}.parquet")
    try:
        st = os.stat(fixture)
        fingerprint = f"{st.st_size}:{st.st_mtime_ns}"
    except OSError:
        fingerprint = "nofile"
    key = hashlib.md5(f"{layout}|{sf_dir}|{table}|{fingerprint}".encode()).hexdigest()[:12]
    with _SPLIT_LOCK:
        if _SPLIT_ROOT is None:
            _SPLIT_ROOT = tempfile.mkdtemp(prefix="bfcms_stream_src_")
            atexit.register(shutil.rmtree, _SPLIT_ROOT, True)
        src_dir = os.path.join(_SPLIT_ROOT, key)
        if not os.path.isdir(src_dir):
            try:
                write(src_dir)
            except BaseException:
                shutil.rmtree(src_dir, ignore_errors=True)  # never replay a partial split
                raise
    # FileStreamSource orders files by modification time (path is only a
    # tie-break in some code paths, and the parallel parquet write stamps
    # all parts with the SAME mtime) — so replay order, and therefore
    # watermark monotonicity, was a coin flip. Append-mode queries then
    # drop whole "late" batches. Stamp strictly increasing mtimes in
    # part-file (= range-partition / batch = time) order.
    parts = sorted(
        f for f in os.listdir(src_dir) if f.startswith("part-") and f.endswith(".parquet")
    )
    base = 1_600_000_000  # fixed epoch: deterministic across runs
    for i, f in enumerate(parts):
        os.utime(os.path.join(src_dir, f), (base + i, base + i))
    schema = spark.read.parquet(src_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
_NODATA_CONF = "spark.sql.streaming.noDataMicroBatches.enabled"


def run_available_now(
    stream_df: DataFrame,
    output_mode: str = "complete",
    query_name: str | None = None,
    state_partitions: int | None = None,
    state_provider: str | None = None,
) -> DataFrame:
    """Run a bounded streaming query to completion into a memory sink and
    return the resulting table. availableNow = process the whole backlog
    as micro-batches (respecting maxFilesPerTrigger), then stop.

    ``state_partitions`` sizes the state store (fixed per checkpoint at
    first run). Default ``None`` = the query's own session's
    ``defaultParallelism``, one stateful task per task slot (not
    ``spark.sql.shuffle.partitions``, which is 200 on a vanilla session).
    Every state partition is a task with a fixed commit cost in each
    micro-batch, so partitions beyond the slots only queue. perfbench
    stream_state (per-key running CMS and Bloom, 8 keys, 2 micro-batches;
    4-core host, mean of seeds 1-2) drained 70k/71k/66k/45k rows/s at
    sp=1/2/4/8, micro-batch p50 366/362/394/599 ms. 1 or 2 win there only
    because 8 keys' work (a few ms each) is less than a task's fixed cost;
    state holding many keys needs every slot. At real scale size this to
    state volume / executor count instead. Results are partition-count
    invariant — only the physical distribution changes.

    ``state_provider``: ``"rocksdb"`` runs the query on the RocksDB state
    store (spilling, incremental-checkpoint — the 100 TB provider, where
    state outgrows executor heap); default is the HDFS-backed in-memory
    provider. The conf is read at query START and baked into the
    checkpoint, so it's set/restored around start() here.
    """
    spark = stream_df.sparkSession
    name = query_name or f"q_{uuid.uuid4().hex[:10]}"
    ckpt = _ephemeral_ckpt()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_provider = spark.conf.get(_PROVIDER_CONF, None)
    prev_nodata = spark.conf.get(_NODATA_CONF, None)
    if state_partitions is None:
        state_partitions = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    # The trailing no-data micro-batch exists to advance the watermark one
    # last time so append-mode windowed/join results flush. A plan with no
    # EventTimeWatermark node has nothing to flush — skip the extra batch
    # (one fewer offset/commit/state round per bounded run).
    has_watermark = "EventTimeWatermark" in stream_df._jdf.queryExecution().analyzed().toString()
    spark.conf.set(_NODATA_CONF, "true" if has_watermark else "false")
    if state_provider == "rocksdb":
        spark.conf.set(_PROVIDER_CONF, ROCKSDB_PROVIDER)
    elif state_provider is not None:
        spark.conf.set(_PROVIDER_CONF, state_provider)
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        if prev_nodata is None:
            spark.conf.unset(_NODATA_CONF)
        else:
            spark.conf.set(_NODATA_CONF, prev_nodata)
        if state_provider is not None:
            if prev_provider is None:
                spark.conf.unset(_PROVIDER_CONF)
            else:
                spark.conf.set(_PROVIDER_CONF, prev_provider)
    return spark.table(name)


def run_foreach_batch(stream_df: DataFrame, fn) -> int:
    """Run a bounded stream through foreachBatch(fn); returns #batches."""
    counter = {"n": 0}

    def _wrap(batch_df: DataFrame, batch_id: int) -> None:
        fn(batch_df, batch_id)
        counter["n"] += 1

    ckpt = _ephemeral_ckpt()
    q = (
        stream_df.writeStream.foreachBatch(_wrap)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return counter["n"]


def versioned_merge_upsert(inc: DataFrame, root: str, version: int) -> str:
    """MERGE a per-batch keyed aggregate into a versioned COW parquet table.

    Reads version ``version - 1`` (if any), FULL OUTER merges the increment
    (count add, DECIMAL total add), writes version ``version`` — the
    copy-on-write MERGE INTO pattern table formats implement with
    manifests. Deriving the read-side from the VERSION NUMBER (never a
    "latest" pointer) makes a retried micro-batch IDEMPOTENT: Structured
    Streaming re-invokes foreachBatch with the same batch_id after a
    failure, and this sink then rebuilds v{id} from the untouched
    v{id - 1} instead of double-applying the increment — the exactly-once
    contract a foreachBatch sink must supply itself. Expected increment
    schema: (event_type, n_events long, total_value decimal(28,6)).

    Returns the written version path.
    """
    import os as _os

    prev_path = _os.path.join(root, f"v{version - 1}")
    out = _os.path.join(root, f"v{version}")
    spark = inc.sparkSession
    if version > 0 and _os.path.isdir(prev_path):
        cur = spark.read.parquet(prev_path)
        a = cur.select(
            "event_type",
            F.col("n_events").alias("n_a"),
            F.col("total_value").alias("t_a"),
        )
        b = inc.select(
            "event_type",
            F.col("n_events").alias("n_b"),
            F.col("total_value").alias("t_b"),
        )
        merged = a.join(b, "event_type", "full_outer").select(
            "event_type",
            (F.coalesce("n_a", F.lit(0)) + F.coalesce("n_b", F.lit(0))).alias(
                "n_events"
            ),
            (
                F.coalesce(F.col("t_a"), F.lit(0).cast("decimal(28,6)"))
                + F.coalesce(F.col("t_b"), F.lit(0).cast("decimal(28,6)"))
            )
            .cast("decimal(28,6)")
            .alias("total_value"),
        )
    else:
        merged = inc.select("event_type", "n_events", F.col("total_value").cast("decimal(28,6)"))
    merged.write.mode("overwrite").parquet(out)
    return out
