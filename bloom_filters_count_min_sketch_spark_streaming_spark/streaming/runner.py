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
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType

from bloom_filters_count_min_sketch_spark_streaming_spark.session import (
    is_tmp_snapshot_dir,
    tmp_snapshot_dir,
)
from bloom_filters_count_min_sketch_spark_streaming_spark.sources.io import load


def _ephemeral_ckpt() -> str:
    """Checkpoint dir for BOUNDED verification runs (mkdtemp'd per query,
    one writer, never resumed), in RAM-backed /dev/shm when there is one:
    durability buys such a checkpoint nothing. Start the run with
    ``start_bounded``, which writes it through Spark's FileSystem-based
    checkpoint manager: on a host whose Hadoop has no native library the
    default FileContext-based manager forks about 10 child processes
    (readlink, permission lookups) per checkpoint file, wherever the file
    lives, /dev/shm included. Production streams point checkpointLocation
    at durable storage (S3/HDFS) and keep Spark's default manager.
    Registered with the session's tmp dirs, so
    ``session.release_tmp_snapshots()`` deletes it."""
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
# split dir -> its schema, inferred once when the split is written
_SPLIT_SCHEMAS: dict[str, StructType] = {}


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
        schema = _SPLIT_SCHEMAS.get(src_dir)
        if schema is None:
            try:
                write(src_dir)
                # FileStreamSource orders files by modification time (path
                # is only a tie-break in some code paths, and the parallel
                # parquet write stamps all parts with the SAME mtime) — so
                # replay order, and therefore watermark monotonicity, was a
                # coin flip. Append-mode queries then drop whole "late"
                # batches. Stamp strictly increasing mtimes in part-file
                # (= range-partition / batch = time) order.
                parts = sorted(
                    f
                    for f in os.listdir(src_dir)
                    if f.startswith("part-") and f.endswith(".parquet")
                )
                base = 1_600_000_000  # fixed epoch: deterministic across runs
                for i, f in enumerate(parts):
                    os.utime(os.path.join(src_dir, f), (base + i, base + i))
                # Read back from the split (a Spark job), not taken from
                # the fixture, so nullability is what the files carry.
                schema = spark.read.parquet(src_dir).schema
            except BaseException:
                shutil.rmtree(src_dir, ignore_errors=True)  # never replay a partial split
                raise
            _SPLIT_SCHEMAS[src_dir] = schema
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
_SHUFFLE_CONF = "spark.sql.shuffle.partitions"
_CKPT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def start_bounded(
    spark: SparkSession,
    writer: DataStreamWriter,
    ckpt: str,
    shuffle_partitions: int | None = None,
    conf: dict[str, str] | None = None,
) -> StreamingQuery:
    """Start ``writer`` on checkpoint ``ckpt`` with ``conf`` and
    ``shuffle_partitions`` (if given) set on ``spark`` for the ``start()``
    call only. The caller's values come back afterwards, also when
    ``start()`` raises: a set conf to its value, an unset one unset. The
    query keeps the values it started with, since it runs on a clone of
    the session taken inside ``start()``.

    A checkpoint this process made with ``tmp_snapshot_dir`` on the local
    file system (``_ephemeral_ckpt``) is also written through Spark's
    FileSystem-based checkpoint manager. Spark's default FileContext-based
    manager, on a Hadoop without its native library, forks about 10 child
    processes (readlink, permission lookups) per atomic checkpoint file:
    33-37 ms and 20 new PIDs per write against 10-11 ms and 4 (4-core
    host, 20 writes of 200 bytes to /dev/shm), paid several times per
    micro-batch (offsets WAL, commit log, file-source log, one delta and
    checksum file per state partition). The FileSystem-based manager's
    atomic write is still write-temp-then-rename, and ``rename(2)`` is
    atomic on a POSIX file system. What the default adds on stores like
    HDFS, a rename that atomically fails if the target exists (against a
    second writer), cannot matter in a dir one process made for one run
    it never resumes. Any other checkpoint (durable, remote, or passed in
    by a caller) keeps Spark's default manager. Checkpoint file checksums
    stay as configured.
    """
    settings = dict(conf or {})
    if shuffle_partitions is not None:
        settings[_SHUFFLE_CONF] = str(shuffle_partitions)
    url = urlparse(ckpt)
    if url.scheme in ("", "file") and is_tmp_snapshot_dir(url.path):
        settings[_CKPT_MANAGER_CONF] = FS_CHECKPOINT_MANAGER
    prev = {k: spark.conf.get(k, None) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        return writer.option("checkpointLocation", ckpt).start()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


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
    4-core host, mean of seeds 1-2, Python workers on session.get_spark's
    daemon, checkpoints through start_bounded's FileSystem-based manager)
    drained 61k/64k/61k/55k rows/s at sp=1/2/4/8, micro-batch p50
    420/392/416/484 ms. With the per-file checkpoint cost gone, 1 to 4
    are within run-to-run noise of each other; 8 keys' work (a few ms
    each) is less than a task's fixed cost, and state holding many keys
    needs every slot. At real scale size this to
    state volume / executor count instead. Results are partition-count
    invariant — only the physical distribution changes.

    ``state_provider``: ``"rocksdb"`` runs the query on the RocksDB state
    store (spilling, incremental-checkpoint — the 100 TB provider, where
    state outgrows executor heap); default is the HDFS-backed in-memory
    provider. The conf is read at query START and baked into the
    checkpoint, so it's set/restored around start() (``start_bounded``).
    """
    spark = stream_df.sparkSession
    if state_partitions is None:
        state_partitions = spark.sparkContext.defaultParallelism
    # The trailing no-data micro-batch exists to advance the watermark one
    # last time so append-mode windowed/join results flush. A plan with no
    # EventTimeWatermark node has nothing to flush — skip the extra batch
    # (one fewer offset/commit/state round per bounded run).
    has_watermark = "EventTimeWatermark" in stream_df._jdf.queryExecution().analyzed().toString()
    conf = {_NODATA_CONF: "true" if has_watermark else "false"}
    if state_provider is not None:
        conf[_PROVIDER_CONF] = ROCKSDB_PROVIDER if state_provider == "rocksdb" else state_provider
    name = query_name or f"q_{uuid.uuid4().hex[:10]}"
    writer = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    start_bounded(spark, writer, _ephemeral_ckpt(), state_partitions, conf).awaitTermination()
    return spark.table(name)


def run_foreach_batch(stream_df: DataFrame, fn) -> int:
    """Run a bounded stream through foreachBatch(fn); returns #batches."""
    counter = {"n": 0}

    def _wrap(batch_df: DataFrame, batch_id: int) -> None:
        fn(batch_df, batch_id)
        counter["n"] += 1

    writer = stream_df.writeStream.foreachBatch(_wrap).trigger(availableNow=True)
    start_bounded(stream_df.sparkSession, writer, _ephemeral_ckpt()).awaitTermination()
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
