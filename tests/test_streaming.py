"""Streaming == batch equivalence tests (SURVEY §5.2.4) + late-data drop."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from bloom_filters_count_min_sketch_spark_streaming_spark.sources.io import load
from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.runner import (
    events_stream_source,
    run_available_now,
)


def test_stream_matches_batch_windowed_counts(spark, sf_dir):
    src = events_stream_source(spark, sf_dir)
    agg = src.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    streamed = run_available_now(agg, "complete").select(
        F.col("window.start").alias("h"), "event_type", "n"
    )
    batch = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_stream_processes_multiple_batches(spark, sf_dir):
    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.runner import (
        run_foreach_batch,
    )

    src = events_stream_source(spark, sf_dir, n_files=4)
    seen = []
    n = run_foreach_batch(src, lambda df, bid: seen.append(df.count()))
    assert n == 4, f"expected 4 micro-batches, got {n}"
    assert sum(seen) == load(spark, sf_dir, "events").count()


def test_stream_batches_replay_in_event_time_order(spark, sf_dir):
    """FileStreamSource orders files by MODIFICATION TIME; the split writer
    stamps ascending mtimes so micro-batches arrive in event-time order.
    Without this, append-mode queries nondeterministically drop whole
    'late' batches (the r3 stream_chained_windows failure)."""
    import os

    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.runner import (
        run_foreach_batch,
    )

    src = events_stream_source(spark, sf_dir, n_files=4)
    # the cached split dir must carry strictly increasing mtimes in path order
    import pyspark.sql.functions as F

    maxes = []
    run_foreach_batch(
        src, lambda df, bid: maxes.append(df.agg(F.max("ts")).collect()[0][0])
    )
    assert maxes == sorted(maxes), f"batch max-ts not monotone: {maxes}"


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode windowed agg with watermark: a row arriving after the
    watermark evicted its window is dropped (C7).

    Note the spacer batch: eviction of the 10:00 window happens while
    processing batch 1 (watermark advanced to 11:50 by batch 0's max event
    time); a late row arriving in the same batch as the eviction still
    lands in state, so the drop is observable from the *next* batch on —
    that's Structured Streaming's documented lower-bound semantics."""
    src_dir = str(tmp_path)

    def mk(rows):
        return spark.createDataFrame(rows, ["id", "ts_s"]).select(
            "id", F.col("ts_s").cast("timestamp").alias("ts")
        )

    mk([(1, "2024-01-01 10:00:05"), (2, "2024-01-01 12:00:00")]).coalesce(1).write.parquet(
        f"{src_dir}/b0"
    )
    mk([(9, "2024-01-01 12:00:01")]).coalesce(1).write.parquet(f"{src_dir}/b1")
    mk([(3, "2024-01-01 10:00:07")]).coalesce(1).write.parquet(f"{src_dir}/b2")  # late

    stream = (
        spark.readStream.schema(mk([(0, "2024-01-01 00:00:00")]).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/b*")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = run_available_now(agg, "append")
    rows = {r["window"].start.isoformat(): r["n"] for r in out.collect()}
    assert rows.get("2024-01-01T10:00:00") == 1, f"late row not dropped: {rows}"


def test_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Kill-and-restart contract: a restarted query resumes from the
    checkpointed offsets (old files are NOT reprocessed) and the file
    sink's manifest keeps the output exactly-once; a restarted stateful
    aggregation resumes from checkpointed state, not from zero."""
    ev = load(spark, sf_dir, "events")
    half = ev.agg(F.expr("percentile(event_id, 0.5)")).collect()[0][0]
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ckpt2 = str(tmp_path / "ckpt_state")
    ev.filter(F.col("event_id") <= half).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    def run_to_sink():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .select("event_id", "event_type")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    state = {}

    def run_stateful():
        def _capture(batch_df, batch_id):
            for r in batch_df.collect():
                state[r["event_type"]] = r["n"]

        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .writeStream.foreachBatch(_capture)
            .outputMode("update")
            .option("checkpointLocation", ckpt2)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_to_sink()
    run_stateful()
    n_first = ev.filter(F.col("event_id") <= half).count()
    assert spark.read.parquet(out).count() == n_first

    # "new data arrives while the query is down"
    ev.filter(F.col("event_id") > half).coalesce(1).write.mode("append").parquet(src)
    run_to_sink()
    run_stateful()

    got = spark.read.parquet(out)
    total = ev.count()
    # resumed, not reprocessed: every input row exactly once
    assert got.count() == total
    assert got.select("event_id").distinct().count() == total
    # stateful restart: counts include pre-restart batches via recovered
    # state even though the second run only read the new file
    exact = {r["event_type"]: r["n"] for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert state == exact


def test_chained_streaming_window_aggregations(spark, sf_dir, tmp_path):
    """Spark 4 chained stateful aggregation: 15-min tumbling counts
    re-aggregated into hourly totals inside ONE streaming query (two
    stateful operators, append mode). Append only emits a window once the
    watermark passes it, so the source ends with a far-future sentinel row
    that flushes every real window; the sentinel's own (withheld) window
    is excluded from the comparison."""
    import os

    ev = load(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    # append mode DROPS rows behind the watermark, so the replay must be
    # time-ordered ACROSS batches: range-partition by ts (event_id is only
    # loosely time-correlated — good enough for complete mode, not here)
    ev.repartitionByRange(4, "ts").write.mode("overwrite").parquet(src)
    # FileStreamSource schedules by mtime, and parallel write tasks finish
    # in arbitrary order — restamp the part files in path (== ts-range)
    # order so batches replay chronologically
    import os, time
    now = time.time()
    parts = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    for i, fn in enumerate(parts):
        os.utime(os.path.join(src, fn), (now + i,) * 2)
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    # each stateful stage emits one micro-batch AFTER the watermark
    # passes, so a two-stage pipeline needs several trailing batches to
    # drain: three staggered sentinels, each in its own batch (mtimes
    # force them after the real files and in order)
    import shutil, time
    for s, hours in enumerate((6, 12, 18, 24, 30)):
        sentinel = ev.limit(1).select(
            *[
                F.lit(None).cast(f.dataType).alias(f.name) if f.name != "ts"
                else (F.lit(max_ts) + F.expr(f"INTERVAL {hours} HOURS")).alias("ts")
                for f in ev.schema.fields
            ]
        )
        sent_file = str(tmp_path / f"sentinel{s}")
        sentinel.coalesce(1).write.mode("overwrite").parquet(sent_file)
        for fn in sorted(os.listdir(sent_file)):
            if fn.endswith(".parquet"):
                dst = os.path.join(src, f"zz-sentinel-{s}.parquet")
                shutil.copy(os.path.join(sent_file, fn), dst)
                os.utime(dst, (time.time() + 3600 * (s + 1),) * 2)

    schema = ev.schema
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        fine = (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "15 minutes"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        hourly = fine.groupBy(
            F.window(F.window_time("window"), "1 hour"), "event_type"
        ).agg(F.sum("n").alias("n_events"))
        q = (
            hourly.writeStream.format("memory")
            .queryName("chained_agg")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    got = {
        (r["start"], r["event_type"]): r["n_events"]
        for r in spark.table("chained_agg")
        .select(F.col("window.start").alias("start"), "event_type", "n_events")
        .filter(F.col("start") <= max_ts)
        .collect()
    }
    exact = {
        (r["start"], r["event_type"]): r["n_events"]
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert got == exact


def test_state_metadata_source_lists_operators(spark, sf_dir, tmp_path):
    """The state-metadata source enumerates stateful operators, state store
    names, partition counts, and batch id ranges from a checkpoint — the
    ops-side complement of the statestore reader."""
    import pyspark.sql.functions as F

    src = events_stream_source(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ckpt = str(tmp_path / "ckpt")
    q = (
        agg.writeStream.format("memory")
        .queryName("md_probe")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    md = spark.read.format("state-metadata").load(ckpt).collect()
    assert len(md) == 1
    row = md[0]
    assert row.operatorName == "stateStoreSave"
    assert row.numPartitions > 0
    assert row.maxBatchId >= row.minBatchId >= 0
    # per-partition state distribution: the skew diagnostic an operator
    # actually runs against a production checkpoint
    st = spark.read.format("statestore").load(ckpt)
    per_part = st.groupBy("partition_id").count().collect()
    assert sum(r["count"] for r in per_part) == st.count()


def test_stateful_session_event_time_timeout(spark, tmp_path):
    """EventTimeTimeout contract of the custom sessionizer: a gap inside
    the data closes a session with closed_by='gap'; a key that goes
    silent is closed by the STATE STORE's timeout once the watermark
    passes last_event + gap (closed_by='timeout'); a session still inside
    the gap at stream end stays open and is NOT emitted. Batch boundaries
    are hand-built files, so the scenario is fully deterministic."""
    import os

    import numpy as np

    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.stateful import (
        sessionize_with_timeout,
    )

    def mk(rows):
        return spark.createDataFrame(rows, ["user", "ts_s"]).select(
            "user", F.col("ts_s").cast("timestamp").alias("ts")
        )

    src = str(tmp_path / "sess_src")
    # b0: A's first session (2 events). b1: A returns after a 50-min gap
    # (closes session 1 as 'gap', opens session 2), B's lone session near
    # the end of the timeline. b2: sentinel C advances event time to 13:00.
    # Final watermark = 13:00 - 10min = 12:50:
    #   A session 2 (last 11:00, timeout 11:30 < 12:50)  -> 'timeout'
    #   B           (last 12:45, timeout 13:15 > 12:50)  -> stays open
    #   C           (last 13:00)                         -> stays open
    mk([("A", "2024-01-01 10:00:00"), ("A", "2024-01-01 10:10:00")]).coalesce(1).write.parquet(f"{src}/b0")
    mk([("A", "2024-01-01 11:00:00"), ("B", "2024-01-01 12:45:00")]).coalesce(1).write.parquet(f"{src}/b1")
    mk([("C", "2024-01-01 13:00:00")]).coalesce(1).write.parquet(f"{src}/b2")
    for i, b in enumerate(["b0", "b1", "b2"]):
        for f in os.listdir(f"{src}/{b}"):
            if f.endswith(".parquet"):
                os.utime(f"{src}/{b}/{f}", (1_600_000_000 + i, 1_600_000_000 + i))

    stream = (
        spark.readStream.schema(mk([("x", "2024-01-01 00:00:00")]).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    sessions = sessionize_with_timeout(
        stream.withWatermark("ts", "10 minutes"), "user", gap_minutes=30
    )
    out = run_available_now(sessions, "append")
    rows = {(r["key"], r["session_start_us"], r["n_events"], r["closed_by"])
            for r in out.collect()}

    def us(ts: str) -> int:
        return int(np.datetime64(ts, "us").astype(np.int64))

    assert ("A", us("2024-01-01T10:00:00"), 2, "gap") in rows
    assert ("A", us("2024-01-01T11:00:00"), 1, "timeout") in rows
    assert len(rows) == 2, rows


def test_versioned_upsert_retry_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch retry semantics: re-invoking the versioned merge with
    the SAME batch id must produce the identical version (state is read by
    version number, never a latest-pointer), so a post-failure replay
    cannot double-apply an increment."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.sources.io import load
    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.runner import (
        versioned_merge_upsert,
    )
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events")
    root = str(tmp_path)

    def inc(b):
        return (
            ev.filter(F.col("event_id") % 2 == b)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.round(F.col("value"), 6).cast("decimal(28,6)")).alias(
                    "total_value"
                ),
            )
        )

    versioned_merge_upsert(inc(0), root, 0)
    versioned_merge_upsert(inc(1), root, 1)
    first = {
        r["event_type"]: (r["n_events"], r["total_value"])
        for r in spark.read.parquet(f"{root}/v1").collect()
    }
    # simulate the retry of batch 1
    versioned_merge_upsert(inc(1), root, 1)
    retried = {
        r["event_type"]: (r["n_events"], r["total_value"])
        for r in spark.read.parquet(f"{root}/v1").collect()
    }
    assert retried == first
    # and the totals equal the batch aggregate over everything
    want = {
        r["event_type"]: (r["n_events"], r["total_value"])
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value"), 6).cast("decimal(28,6)")).alias(
                "total_value"
            ),
        )
        .collect()
    }
    assert retried == want


def test_stream_progress_exposes_state_and_watermark(spark, sf_dir, tmp_path):
    """Streaming observability: StreamingQueryProgress must report state
    rows for the windowed aggregate and an advanced event-time watermark
    — what a production stream's health monitor actually reads."""
    from pyspark.sql import functions as F

    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.runner import (
        events_stream_source,
    )

    src = events_stream_source(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "15 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("progress_probe")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progresses = [p for p in q.recentProgress if p is not None]
    assert progresses, "no progress events recorded"
    state_ops = [p for p in progresses if p.get("stateOperators")]
    assert state_ops, "no stateOperators in any progress"
    last = state_ops[-1]
    assert last["stateOperators"][0]["numRowsTotal"] > 0
    wm = last.get("eventTime", {}).get("watermark")
    assert wm and wm > "1970", wm


def test_rocksdb_provider_matches_hdfs_provider(spark, sf_dir):
    """C14: the RocksDB state-store provider must produce byte-identical
    results to the default HDFS-backed provider for the same stateful
    query — provider choice is an executor-memory/scale decision, never a
    semantics one. Also pins that the provider conf is restored after the
    run (it's baked into each query's checkpoint at start)."""
    from pyspark.sql import functions as F

    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming import stateful
    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.runner import (
        _PROVIDER_CONF,
        events_stream_source,
        run_available_now,
    )

    def final_counts(provider):
        src = events_stream_source(spark, sf_dir)
        running = stateful.running_counts(src, "user_id")
        out = run_available_now(running, "append", state_provider=provider)
        return {
            r["key"]: r["final_total"]
            for r in out.groupBy("key")
            .agg(F.max("running_total").alias("final_total"))
            .collect()
        }

    hdfs = final_counts(None)
    rocks = final_counts("rocksdb")
    assert rocks == hdfs and len(hdfs) > 0
    assert spark.conf.get(_PROVIDER_CONF, None) is None


def test_stream_cms_counters_equal_batch_build(spark, sf_dir):
    """The streamed sharded-counter CMS is BIT-IDENTICAL to a batch build:
    counters form an abelian monoid, so the drained state must equal the
    one-pass table regardless of micro-batch boundaries — the exactness
    statement under stream_cms_join_size."""
    import numpy as np

    from bloom_filters_count_min_sketch_spark_streaming_spark.functions.cms import (
        cms_build_numpy,
    )
    from bloom_filters_count_min_sketch_spark_streaming_spark.plans.streaming_queries import (
        _JS_CONF,
        _JS_EPS,
        _JS_SEED,
        stream_numpy_cms_sketches,
    )

    (streamed,) = stream_numpy_cms_sketches(
        spark, sf_dir, [("orders", "o_orderkey", "o_orderkey")]
    )
    batch = cms_build_numpy(
        load(spark, sf_dir, "orders"),
        "o_orderkey",
        eps=_JS_EPS,
        confidence=_JS_CONF,
        seed=_JS_SEED,
    )
    assert np.array_equal(streamed.table, batch.table)
    assert streamed.total == batch.total

    # the FUSED multi-table path (one streaming query, offset shard
    # ranges) must reassemble each table's sketch bit-identically too —
    # union interleaving of the two delta streams must not matter
    fused_cust, fused_ord = stream_numpy_cms_sketches(
        spark,
        sf_dir,
        [("customer", "c_custkey", "c_custkey"), ("orders", "o_orderkey", "o_orderkey")],
    )
    assert np.array_equal(fused_ord.table, batch.table)
    assert fused_ord.total == batch.total
    batch_cust = cms_build_numpy(
        load(spark, sf_dir, "customer"),
        "c_custkey",
        eps=_JS_EPS,
        confidence=_JS_CONF,
        seed=_JS_SEED,
    )
    assert np.array_equal(fused_cust.table, batch_cust.table)
    assert fused_cust.total == batch_cust.total


def test_release_deletes_only_registered_checkpoints(monkeypatch):
    """release_tmp_snapshots() deletes the checkpoint dirs the runner made
    and nothing else: a same-prefix dir made by another owner (a concurrent
    test or bench run's live checkpoint) after this process started must
    survive."""
    import os
    import shutil

    from bloom_filters_count_min_sketch_spark_streaming_spark import session
    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.runner import (
        _ephemeral_ckpt,
    )

    # Release only what this test registers, not dirs earlier tests'
    # lazily evaluated plans may still reference.
    monkeypatch.setattr(session, "_TMP_SNAPSHOT_DIRS", [])
    ours = _ephemeral_ckpt()
    root = os.path.dirname(ours)
    foreign = tempfile.mkdtemp(prefix="bfcms_ckpt_", dir=root)
    try:
        session.release_tmp_snapshots()
        assert not os.path.exists(ours)
        assert os.path.isdir(foreign)
    finally:
        shutil.rmtree(foreign, ignore_errors=True)


def test_sketch_state_outputs_independent_of_state_partitions(spark, sf_dir, tmp_path, monkeypatch):
    """running_cms_estimates and running_bloom_distinct emit the same rows
    with 1 state partition, with the default and with 8; the default is the
    session's defaultParallelism (one stateful task per task slot)."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming import runner, stateful

    ckpts = []

    def ckpt():
        ckpts.append(str(tmp_path / f"ckpt{len(ckpts)}"))
        return ckpts[-1]

    monkeypatch.setattr(runner, "_ephemeral_ckpt", ckpt)
    probes = [0, 1, 2, 3, 5, 8, 13, 21, 10**6]
    builds = {
        "cms": lambda src: stateful.running_cms_estimates(src, "event_type", "user_id", probes),
        "bloom": lambda src: stateful.running_bloom_distinct(src, "event_type", "user_id"),
    }
    for label, build in builds.items():
        outs = {}
        for parts in (1, None, 8):
            src = events_stream_source(spark, sf_dir)
            out = run_available_now(build(src), "append", state_partitions=parts)
            outs[parts] = sorted(tuple(r) for r in out.collect())
            (md,) = spark.read.format("state-metadata").load(ckpts[-1]).collect()
            want = spark.sparkContext.defaultParallelism if parts is None else parts
            assert md.numPartitions == want, (label, parts, md.numPartitions)
        assert outs[1], label
        assert outs[1] == outs[None] == outs[8], label


def test_stream_split_outlives_release_and_is_owned_by_the_process(spark, sf_dir, monkeypatch):
    """The stream-source split is written once per process under one
    per-process dir: release_tmp_snapshots() between queries keeps it, and
    a second source over the same fixture reuses it instead of re-splitting."""
    import os

    from bloom_filters_count_min_sketch_spark_streaming_spark import session
    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming import runner

    # Release only what this test registers, not dirs earlier tests'
    # lazily evaluated plans may still reference.
    monkeypatch.setattr(session, "_TMP_SNAPSHOT_DIRS", [])
    events_stream_source(spark, sf_dir, n_files=3)
    root = runner._SPLIT_ROOT
    assert root and os.path.basename(root).startswith("bfcms_stream_src_")
    assert os.path.dirname(root) == tempfile.gettempdir()
    splits = os.listdir(root)
    for d in splits:  # Spark ignores "_"-prefixed files when reading
        open(os.path.join(root, d, "_written_once"), "w").close()
    session.release_tmp_snapshots()
    assert events_stream_source(spark, sf_dir, n_files=3).isStreaming
    assert runner._SPLIT_ROOT == root
    assert sorted(os.listdir(root)) == sorted(splits)
    for d in splits:
        assert os.path.exists(os.path.join(root, d, "_written_once")), d


def test_split_schema_is_read_once_when_written(spark, sf_dir):
    """A second source over an already written split runs no Spark job:
    the schema is read back from the split (and the replay-order mtimes
    stamped) once, when the split is written, not on every call."""
    first = events_stream_source(spark, sf_dir, n_files=3)
    sc = spark.sparkContext
    sc.setJobGroup("bfcms_split_reuse", "second source over one split")
    try:
        again = events_stream_source(spark, sf_dir, n_files=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("bfcms_split_reuse")) == []
    assert again.schema == first.schema


class _RecordingWriter:
    """Stands in for a DataStreamWriter: records the session confs that
    ``start()`` sees, then raises or returns a marker."""

    def __init__(self, spark, keys, fail=False):
        self.spark, self.keys, self.fail = spark, keys, fail
        self.options, self.seen = {}, None

    def option(self, key, value):
        self.options[key] = value
        return self

    def start(self):
        self.seen = {k: self.spark.conf.get(k, None) for k in self.keys}
        if self.fail:
            raise RuntimeError("start failed")
        return "started"


def _set_confs(spark, values):
    for k, v in values.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_start_bounded_restores_caller_confs(spark):
    """start_bounded sets shuffle.partitions and the checkpoint manager for
    start() only: afterwards both are what the caller had, unset or set,
    also when start() raises (a fake and a real writer)."""
    import pytest

    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.runner import (
        _CKPT_MANAGER_CONF,
        _SHUFFLE_CONF,
        FS_CHECKPOINT_MANAGER,
        _ephemeral_ckpt,
        start_bounded,
    )

    keys = (_SHUFFLE_CONF, _CKPT_MANAGER_CONF)
    caller = {k: spark.conf.get(k, None) for k in keys}
    file_context = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager"
    )
    unset = {k: None for k in keys}
    set_by_caller = {_SHUFFLE_CONF: "7", _CKPT_MANAGER_CONF: file_context}
    try:
        for before in (unset, set_by_caller):
            _set_confs(spark, before)
            for fail in (False, True):
                w = _RecordingWriter(spark, keys, fail)
                ckpt = _ephemeral_ckpt()
                if fail:
                    with pytest.raises(RuntimeError):
                        start_bounded(spark, w, ckpt, shuffle_partitions=3)
                else:
                    assert start_bounded(spark, w, ckpt, shuffle_partitions=3) == "started"
                assert w.seen == {_SHUFFLE_CONF: "3", _CKPT_MANAGER_CONF: FS_CHECKPOINT_MANAGER}
                assert w.options == {"checkpointLocation": ckpt}
                assert {k: spark.conf.get(k, None) for k in keys} == before, (before, fail)
            rate = spark.readStream.format("rate").load()
            with pytest.raises(Exception, match="bfcms_no_such_sink"):
                start_bounded(
                    spark,
                    rate.writeStream.format("bfcms_no_such_sink"),
                    _ephemeral_ckpt(),
                    shuffle_partitions=3,
                )
            assert {k: spark.conf.get(k, None) for k in keys} == before, before
    finally:
        _set_confs(spark, caller)


def test_start_bounded_keeps_default_manager_off_owned_local_ckpts(spark, tmp_path):
    """Only a local checkpoint dir this process made (_ephemeral_ckpt,
    tmp_snapshot_dir) gets the FileSystem-based manager; a remote, durable
    or caller-owned one keeps Spark's default (the conf stays unset)."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.runner import (
        _CKPT_MANAGER_CONF,
        FS_CHECKPOINT_MANAGER,
        _ephemeral_ckpt,
        start_bounded,
    )

    assert spark.conf.get(_CKPT_MANAGER_CONF, None) is None
    owned = _ephemeral_ckpt()
    cases = {
        owned: FS_CHECKPOINT_MANAGER,
        "file://" + owned: FS_CHECKPOINT_MANAGER,
        "s3a://bucket/ckpt" + owned: None,
        "hdfs://namenode:8020" + owned: None,
        str(tmp_path): None,
    }
    for ckpt, want in cases.items():
        w = _RecordingWriter(spark, (_CKPT_MANAGER_CONF,))
        start_bounded(spark, w, ckpt)
        assert w.seen == {_CKPT_MANAGER_CONF: want}, ckpt
        assert spark.conf.get(_CKPT_MANAGER_CONF, None) is None


def test_bounded_run_rows_match_default_checkpoint_manager(spark, sf_dir, tmp_path, monkeypatch):
    """A stateful bounded run checkpointed through the FileSystem-based
    manager (an _ephemeral_ckpt dir) emits the same rows as the same run on
    Spark's default manager (a dir the caller owns), and its checkpoint
    reads back the same through the default manager."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming import runner, stateful

    ckpts = []

    def run(make_ckpt):
        def ckpt():
            ckpts.append(make_ckpt())
            return ckpts[-1]

        monkeypatch.setattr(runner, "_ephemeral_ckpt", ckpt)
        running = stateful.running_counts(events_stream_source(spark, sf_dir), "user_id")
        rows = sorted(tuple(r) for r in run_available_now(running, "append").collect())
        return rows, spark.read.format("state-metadata").load(ckpts[-1]).collect()

    owned = run(runner._ephemeral_ckpt)
    default = run(lambda: str(tmp_path / "ckpt"))
    assert owned[0] and owned == default
