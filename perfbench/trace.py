"""Measurement plumbing: spans, micro-batch progress, Spark job accounting.

Nothing here reaches inside the program. Spans wrap the benchmark's own
calls into each program module; micro-batch phases come from a
``StreamingQueryListener``; job, stage and task totals come from Spark's
event log, which only the traced run turns on.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time

class Tracer:
    """In-memory spans (name, start, end, parent) written out at the end.

    Disabled, ``span`` costs one branch, so untraced runs carry no tracing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter() - self._t0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def durations(self, name: str, timed_only: bool = True) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and "end" in s and (s.get("timed") or not timed_only)
        ]


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default


class ProgressLog:
    """Collects every micro-batch progress report of every streaming query.

    Listener events arrive on another thread after the query's own
    ``awaitTermination``; ``wait_terminated`` blocks until the termination
    event of each started query has been delivered, so no progress report
    of a finished query is still in flight."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self._cond = threading.Condition()
        self.progress: list[dict] = []
        self._started: set[str] = set()
        self._terminated: set[str] = set()
        self.tag: dict = {}

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with log._cond:
                    log._started.add(str(event.id))

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "name": p.name,
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "state": [
                        {
                            "rows": s.numRowsTotal,
                            "rows_updated": s.numRowsUpdated,
                            "memory_bytes": s.memoryUsedBytes,
                            "commit_ms": s.commitTimeMs,
                        }
                        for s in p.stateOperators
                    ],
                }
                with log._cond:
                    rec.update(log.tag)
                    log.progress.append(rec)

            def onQueryTerminated(self, event):
                with log._cond:
                    log._terminated.add(str(event.id))
                    log._cond.notify_all()

        self._listener = _Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def wait_terminated(self, timeout: float = 60.0) -> None:
        deadline = time.monotonic() + timeout
        with self._cond:
            while not self._started <= self._terminated:
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError("streaming query termination events never arrived")
                self._cond.wait(left)

    def set_tag(self, **tag) -> None:
        """Attach ``tag`` to every progress report recorded from now on."""
        with self._cond:
            self.tag = dict(tag)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


def stream_layer_metrics(progress: list[dict]) -> dict[str, float]:
    """Per-micro-batch medians of Spark's phase timings and state-store
    figures, summed over a batch's stateful operators."""
    out = {}
    for phase in ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets"):
        out[f"stream.{phase}_ms"] = median(p["duration_ms"].get(phase, 0) for p in progress)
    stateful = [p for p in progress if p["state"]]
    out["state.rows"] = float(max((sum(s["rows"] for s in p["state"]) for p in stateful), default=0))
    out["state.rows_updated"] = median(sum(s["rows_updated"] for s in p["state"]) for p in stateful)
    out["state.memory_bytes"] = float(
        max((sum(s["memory_bytes"] for s in p["state"]) for p in stateful), default=0)
    )
    out["state.commit_ms"] = median(sum(s["commit_ms"] for s in p["state"]) for p in stateful)
    return out


def eventlog_metrics(eventlog_dir: str, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Job, stage and task totals per timed iteration, from the event log of
    the finished application. A job belongs to a timed iteration when it was
    submitted inside one of ``windows`` (epoch seconds), whichever thread
    submitted it."""
    jobs, stages, tasks = 0, set(), 0
    run_ms = cpu_ns = gc_ms = shuffle_read = shuffle_write = 0
    timed_stages: set[int] = set()
    for path in glob.glob(os.path.join(eventlog_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    submitted = ev.get("Submission Time", 0) / 1e3
                    if any(lo <= submitted <= hi for lo, hi in windows):
                        jobs += 1
                        timed_stages.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in timed_stages:
                        stages.add(sid)
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in timed_stages:
                    m = ev.get("Task Metrics") or {}
                    tasks += 1
                    run_ms += m.get("Executor Run Time", 0)
                    cpu_ns += m.get("Executor CPU Time", 0)
                    gc_ms += m.get("JVM GC Time", 0)
                    r = m.get("Shuffle Read Metrics") or {}
                    shuffle_read += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                    shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    n = max(len(windows), 1)
    return {
        "spark.jobs": jobs / n,
        "spark.stages": len(stages) / n,
        "spark.tasks": tasks / n,
        "spark.executor_run_s": run_ms / 1e3 / n,
        "spark.executor_cpu_s": cpu_ns / 1e9 / n,
        "spark.gc_s": gc_ms / 1e3 / n,
        "spark.shuffle_read_bytes": shuffle_read / n,
        "spark.shuffle_write_bytes": shuffle_write / n,
    }


def catalyst_phases_ms(df) -> dict[str, float]:
    """Catalyst phase times of a DataFrame's own QueryExecution, planning it
    first if no action has yet (the noop write plans a separate one)."""
    qe = df._jdf.queryExecution()  # noqa: SLF001 — Catalyst has no Python API
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
