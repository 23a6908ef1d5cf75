"""Per-query Spark job accounting under bench.py's conditions.

Runs bench.py's warmup, then times each named query with bench's timing
loop, min of -n noop-sink runs, in a session with Spark's event log on.
After the session stops, perfbench.trace.eventlog_metrics reads the log
and totals, over each query's timed runs, the jobs it launched, their
stages and tasks, executor run, CPU and GC seconds, and shuffle bytes.
That answers how many jobs a query launches and whether its wall time is
executor work or driver-side planning, scheduling and Python.

Usage: python tools/profile_query.py [-n 2] query [query ...]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("-n", type=int, default=2, help="timed runs per query (min kept)")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    # the event log is a launch-time setting, as in perfbench/run.py's
    # configure_env: it must be in place before the JVM starts
    eventlog = tempfile.mkdtemp(prefix="bfcms_eventlog_")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{eventlog}",
            "--conf spark.eventLog.rolling.enabled=false",
            "--conf spark.eventLog.compress=false",
            os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell"),
        ]
    )
    try:
        import bench
        import __spark_entry__ as entrymod
        from bloom_filters_count_min_sketch_spark_streaming_spark.session import get_spark
        from perfbench.trace import eventlog_metrics

        spark = get_spark("profile")
        queries = entrymod.queries()
        bench.warm_up(spark, args.sf_dir)
        timed = {}
        for name in args.queries:
            t0 = time.time()
            samples = bench.time_query(spark, queries[name], args.sf_dir, args.n)
            timed[name] = (samples, (t0, time.time()))
        bench.shutdown(spark)

        for name, (samples, window) in timed.items():
            m = eventlog_metrics(eventlog, [window])
            print(
                f"{name}: wall min {min(samples):.3f}s over {args.n} runs "
                f"{[round(s, 3) for s in samples]}; totals over those runs: "
                f"jobs={m['spark.jobs']:.0f} stages={m['spark.stages']:.0f} "
                f"tasks={m['spark.tasks']:.0f} executor run={m['spark.executor_run_s']:.3f}s "
                f"cpu={m['spark.executor_cpu_s']:.3f}s gc={m['spark.gc_s']:.3f}s "
                f"shuffle read={m['spark.shuffle_read_bytes']:.0f}B "
                f"write={m['spark.shuffle_write_bytes']:.0f}B"
            )
    finally:
        shutil.rmtree(eventlog, ignore_errors=True)


if __name__ == "__main__":
    main()
