"""The three benchmark workloads, each calling the program's public functions.

A workload runs in iterations; each iteration attempts the same fixed list
of operations. ``iterate(collect=True)`` gathers the outputs the checks need
instead of discarding them into the noop sink; ``verify`` compares them with
the generator's exact figures or the DuckDB oracles.
"""

from __future__ import annotations

import sys
import time
import traceback

import numpy as np
from pyspark.sql import functions as F

from bloom_filters_count_min_sketch_spark_streaming_spark import session
from bloom_filters_count_min_sketch_spark_streaming_spark.functions import bloom, cms
from bloom_filters_count_min_sketch_spark_streaming_spark.streaming import runner, stateful
from perfbench import checks
from perfbench.trace import catalyst_phases_ms, median


class Workload:
    """Shared bookkeeping: operation accounting and spans.

    A workload's ``prepare`` does the one-time work users pay before the
    first result (counted in setup_s), ``iterate`` runs one iteration,
    ``verify`` returns the failed checks and ``layer_metrics`` its layers'
    figures for the traced run."""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.meta = ctx.meta
        self.rows = ctx.meta["rows"]
        self.attempted = 0
        self.failed = 0
        self.timed = False
        self.op_ms: list[float] = []  # wall time of each timed operation

    def op(self, name: str, fn, *args):
        """Run one operation; an exception counts it failed and returns None."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            with self.tracer.span(name, timed=self.timed):
                result = fn(*args)
        except Exception:  # noqa: BLE001 — a failed operation is counted and reported
            self.failed += 1
            print(f"perfbench: operation {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        if self.timed:
            self.op_ms.append((time.perf_counter() - t) * 1e3)
        return result

    def batch_ms_p50(self) -> float:
        """Median ``durationMs.triggerExecution`` over the micro-batches of
        the timed iterations."""
        return median(
            p["duration_ms"]["triggerExecution"] for p in self.ctx.progress.progress if p.get("timed")
        )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class SketchBatch(Workload):
    """Bloom and Count-Min build and probe over a Zipf key column."""

    FPP = 0.01
    EPS = 0.0001
    CONFIDENCE = 0.99

    def prepare(self) -> None:
        d = self.ctx.data_dir
        read = self.spark.read.parquet
        self.keys = read(f"{d}/keys")
        self.dim = read(f"{d}/dim.parquet")
        self.probe = self.keys.withColumn("member", F.lit(True)).unionByName(
            read(f"{d}/disjoint").withColumn("member", F.lit(False))
        )
        self.outputs: dict = {}

    def iterate(self, collect: bool) -> None:
        m = self.meta

        def probe(filter_bytes):
            out = bloom.bloom_might_contain(self.probe, "k", filter_bytes)
            if not collect:
                return _noop(out)
            rows = out.groupBy("member").agg(
                F.count(F.lit(1)).alias("n"), F.sum(F.col("might_contain").cast("long")).alias("hits")
            ).collect()
            self.outputs["bloom"] = {r["member"]: (r["n"], r["hits"]) for r in rows}

        def join():
            out = bloom.bloom_prefilter_join(
                self.keys, self.dim, "k", "k", fpp=self.FPP, expected_items=m["dim_rows"]
            )
            if not collect:
                return _noop(out)
            self.outputs["join_rows"] = out.count()

        def estimate(sketch):
            out = cms.cms_estimate(self.keys, "k", sketch)
            if not collect:
                return _noop(out)
            pdf = (
                out.groupBy("k")
                .agg(F.min("cms_estimate").alias("lo"), F.max("cms_estimate").alias("hi"))
                .toPandas()
            )
            self.outputs["cms_est"] = pdf

        filter_bytes = self.op(
            "bloom.build", bloom.bloom_build, self.keys, "k", m["distinct_keys"], self.FPP
        )
        self.op("bloom.probe", probe, filter_bytes)
        self.op("bloom.join", join)
        sketch = self.op("cms.build", cms.cms_build, self.keys, "k", self.EPS, self.CONFIDENCE)
        self.op("cms.probe", estimate, sketch)
        self.filter_bytes, self.sketch = filter_bytes, sketch

    def verify(self) -> list[str]:
        m, out = self.meta, self.outputs
        d = self.ctx.data_dir
        problems = []
        if "bloom" in out:
            n_in, hit_in = out["bloom"].get(True, (0, 0))
            n_out, hit_out = out["bloom"].get(False, (0, 0))
            if n_in + n_out != m["key_rows"] + m["disjoint_rows"]:
                problems.append(f"bloom: probe returned {n_in + n_out} rows")
            problems += checks.bloom_problems(n_in, hit_in, n_out, hit_out, self.FPP)
        else:
            problems.append("bloom: probe produced no output")
        if out.get("join_rows") != m["join_rows"]:
            problems.append(f"bloom join: {out.get('join_rows')} rows, numpy join size {m['join_rows']}")
        pdf = out.get("cms_est")
        if pdf is None or self.sketch is None:
            problems.append("cms: estimate produced no output")
        else:
            if not (pdf["lo"] == pdf["hi"]).all():
                problems.append("cms: one key got different estimates")
            keys = pdf["k"].to_numpy(np.int64)
            order = np.argsort(keys)
            problems += checks.cms_problems(
                np.load(f"{d}/exact_keys.npy"),
                np.load(f"{d}/exact_counts.npy"),
                keys[order],
                pdf["lo"].to_numpy(np.int64)[order],
                m["key_rows"],
                checks.cms_total_count(self.sketch),
                self.EPS,
                self.CONFIDENCE,
            )
        return problems

    def batch_ms_p50(self) -> float:
        """No micro-batches here: the median wall time of one batch call
        (build, probe write or join write), each timed on its own."""
        return median(self.op_ms)

    def layer_metrics(self) -> dict[str, float]:
        t = self.tracer
        probe_rows = self.meta["key_rows"] + self.meta["disjoint_rows"]
        bloom_probe = median(t.durations("bloom.probe"))
        cms_probe = median(t.durations("cms.probe"))
        return {
            "bloom.build_s": median(t.durations("bloom.build")),
            "bloom.probe_s": bloom_probe,
            "bloom.probe_rows_per_s": probe_rows / bloom_probe if bloom_probe else 0.0,
            "bloom.join_s": median(t.durations("bloom.join")),
            "bloom.filter_bytes": float(len(self.filter_bytes or b"")),
            "cms.build_s": median(t.durations("cms.build")),
            "cms.probe_s": cms_probe,
            "cms.probe_rows_per_s": self.meta["key_rows"] / cms_probe if cms_probe else 0.0,
            "cms.sketch_bytes": float(len(self.sketch or b"")),
        }


class StreamState(Workload):
    """Per-key running CMS and Bloom filter kept in streaming state."""

    EPS = 0.0001
    CONFIDENCE = 0.999
    BLOOM_ITEMS = 100_000
    BLOOM_FPP = 1e-9

    def prepare(self) -> None:
        self.outputs: dict = {}
        self.drains: list[str] = []  # query names of every finished drain
        # the first call writes the one-file-per-trigger split
        with self.tracer.span("runner.split"):
            runner.table_stream_source(
                self.spark, self.ctx.data_dir, "events", "event_id", self.meta["files"]
            )

    def _drain(self, build, collect: bool, label: str):
        with self.tracer.span("runner.source", timed=self.timed):
            src = runner.table_stream_source(
                self.spark, self.ctx.data_dir, "events", "event_id", self.meta["files"]
            )
        name = f"perfbench_{label}_{len(self.drains)}"
        self.ctx.progress.set_tag(query=name, timed=self.timed)
        with self.tracer.span("runner.run", timed=self.timed):
            out = runner.run_available_now(build(src), "append", query_name=name)
        self.ctx.progress.wait_terminated()
        result = out.collect() if collect else None
        self.spark.catalog.dropTempView(name)
        session.release_tmp_snapshots()  # the drain's checkpoint
        self.drains.append(name)
        return result

    def iterate(self, collect: bool) -> None:
        m = self.meta

        def run_cms():
            rows = self._drain(
                lambda src: stateful.running_cms_estimates(
                    src, "event_type", "user_id", m["probe_ids"], eps=self.EPS, confidence=self.CONFIDENCE
                ),
                collect,
                "cms",
            )
            if collect:
                final: dict = {}
                for r in rows:  # estimates only grow, so the last is the max
                    k = (r["key"], int(r["probe_id"]))
                    final[k] = max(final.get(k, 0), int(r["cms_est"]))
                self.outputs["cms"] = final

        def run_bloom():
            rows = self._drain(
                lambda src: stateful.running_bloom_distinct(
                    src, "event_type", "user_id", expected_items=self.BLOOM_ITEMS, fpp=self.BLOOM_FPP
                ),
                collect,
                "bloom",
            )
            if collect:
                final: dict = {}
                for r in rows:
                    final[r["key"]] = max(final.get(r["key"], 0), int(r["running_distinct"]))
                self.outputs["bloom"] = final

        self.op("stateful.running_cms_estimates", run_cms)
        self.op("stateful.running_bloom_distinct", run_bloom)

    def verify(self) -> list[str]:
        m = self.meta
        problems = [f"stream {label}: no output collected" for label in ("cms", "bloom") if label not in self.outputs]
        # every drain, warm and timed, reads each generated row once
        for name in self.drains:
            rows = [p["rows"] for p in self.ctx.progress.progress if p["query"] == name]
            problems += [f"{name}: {p}" for p in checks.stream_progress_problems(rows, m["rows"], m["files"])]
        if "cms" in self.outputs:
            problems += checks.stream_cms_problems(
                self.outputs["cms"], m["exact_probe_counts"], m["probe_ids"], m["key_rows"],
                self.EPS, self.CONFIDENCE,
            )
        if "bloom" in self.outputs:
            problems += checks.stream_bloom_problems(self.outputs["bloom"], m["exact_distinct"], self.BLOOM_FPP)
        return problems

    def layer_metrics(self) -> dict[str, float]:
        t = self.tracer
        timed = [p for p in self.ctx.progress.progress if p.get("timed")]
        runs = len({p["query"] for p in timed})
        return {
            "runner.split_s": median(t.durations("runner.split", timed_only=False)),
            "runner.source_s": median(t.durations("runner.source")),
            "runner.run_s": median(t.durations("runner.run")),
            "runner.batches": len(timed) / runs if runs else 0.0,
        }


# Registered queries of the fixed-cost pass, over the generated sf0.01-shaped
# tables: sketch queries on events, TPC-H shapes on orders and lineitem, and
# streaming replays of events. All return exactly their DuckDB oracle on
# these inputs whatever the seed (their sketches are exact at this size).
QUERIES = [
    "cms_event_type_freq",
    "bloom_membership",
    "heavy_hitters_approx",
    "hll_sketch_users",
    "q1_pricing_summary",
    "events_hourly_counts",
    "stream_windowed_counts",
]


class QuerySuite(Workload):
    """One pass over registered queries at sf0.01 scale: fixed costs."""

    def prepare(self) -> None:
        sys.path.insert(0, self.ctx.root)
        import __spark_entry__

        with self.tracer.span("registry.queries_first"):
            self.queries = __spark_entry__.queries()
        if self.tracer.enabled:
            with self.tracer.span("registry.queries_again"):
                __spark_entry__.queries()
        self.results: dict = {}
        self.jobs: dict[str, list[int]] = {"build": [], "action": []}
        self.catalyst: list[dict] = []

    def _release(self) -> None:
        jmap = self.spark.sparkContext._jsc.getPersistentRDDs()  # noqa: SLF001
        for k in jmap.keySet().toArray():
            jmap.get(k).unpersist()
        session.release_tmp_snapshots()

    def iterate(self, collect: bool) -> None:
        sc = self.spark.sparkContext
        for name in QUERIES:
            # jobs the benchmark's thread starts before and after the query
            # function returns (micro-batch jobs run in their stream's group)
            build_group = f"perfbench:{name}:build:{self.attempted}"
            action_group = f"perfbench:{name}:action:{self.attempted}"
            self.ctx.progress.set_tag(query=name, timed=self.timed)

            def run(name=name, build_group=build_group, action_group=action_group):
                sc.setJobGroup(build_group, build_group)
                with self.tracer.span("plans.build", timed=self.timed, query=name):
                    df = self.queries[name](self.spark, self.ctx.data_dir)
                sc.setJobGroup(action_group, action_group)
                with self.tracer.span("plans.exec", timed=self.timed, query=name):
                    if collect:
                        self.results[name] = df.toPandas()
                    else:
                        _noop(df)
                return df

            try:
                df = self.op(name, run)
            finally:
                self._release()
            if self.tracer.enabled and self.timed and df is not None:
                tracker = sc.statusTracker()
                self.jobs["build"].append(len(tracker.getJobIdsForGroup(build_group)))
                self.jobs["action"].append(len(tracker.getJobIdsForGroup(action_group)))
                self.catalyst.append(catalyst_phases_ms(df))
        self.ctx.progress.wait_terminated()

    def verify(self) -> list[str]:
        import duckdb

        from bloom_filters_count_min_sketch_spark_streaming_spark.plans import registry

        con = duckdb.connect()
        for table in ("events", "customer", "orders", "lineitem"):
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{self.ctx.data_dir}/{table}.parquet'")
        problems = []
        for name in QUERIES:
            if name not in self.results:
                problems.append(f"{name}: no result collected")
                continue
            oracle = con.sql(registry.ORACLES[name]).df()
            problems += [f"{name}: {p}" for p in checks.frame_problems(self.results[name], oracle)]
        con.close()
        return problems

    def layer_metrics(self) -> dict[str, float]:
        t = self.tracer
        n = len(QUERIES)
        passes = max(len(t.durations("plans.build")) // n, 1)
        return {
            "registry.queries_first_s": median(t.durations("registry.queries_first", timed_only=False)),
            "registry.queries_again_s": median(t.durations("registry.queries_again", timed_only=False)),
            "plans.build_s": sum(t.durations("plans.build")) / passes,
            "plans.exec_s": sum(t.durations("plans.exec")) / passes,
            "plans.eager_jobs": sum(self.jobs["build"]) / passes,
            "plans.action_jobs": sum(self.jobs["action"]) / passes,
            "catalyst.analysis_ms": sum(c["analysis"] for c in self.catalyst) / passes,
            "catalyst.optimization_ms": sum(c["optimization"] for c in self.catalyst) / passes,
            "catalyst.planning_ms": sum(c["planning"] for c in self.catalyst) / passes,
        }


WORKLOADS = {"sketch_batch": SketchBatch, "stream_state": StreamState, "query_suite": QuerySuite}
