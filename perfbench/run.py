"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload sketch_batch --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload stream_state --seed 1 --seconds 5 --repeat 5

Run it from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (every
end-to-end metric of BENCHMARK.json with ``--trace 0``, every per-layer
metric with ``--trace 1``). ``--repeat N`` instead runs N seeds in turn and
prints each metric's median and quartiles. See perfbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from types import SimpleNamespace  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "bloom_filters_count_min_sketch_spark_streaming_spark"
BENCH_DIR = os.path.join(ROOT, "perfbench")
WORKLOADS = ("sketch_batch", "stream_state", "query_suite")
# Untimed warm iterations; the first also collects the outputs the checks
# need, the rest and the timed ones discard theirs into the noop sink.
# sketch_batch and query_suite need two: their second iteration still runs
# 10-30% slower than steady state, by an amount that varies from run to run.
# query_suite's passes keep getting a little faster after that (3.98, 3.66,
# 3.74, 3.45, 3.31, 3.25 s for passes 3 to 8 of one run), but three or four
# warm passes left the run-to-run spread as it was (10-16% over 5-10 seeds)
# and cost 4-8 s a run.
WARM_ITERATIONS = {"sketch_batch": 2, "stream_state": 1, "query_suite": 2}
# Timed iterations run until --seconds have passed and at least this many
# have run, so an iteration count never hinges on a host running one
# iteration slightly faster.
MIN_TIMED = {"sketch_batch": 2, "stream_state": 1, "query_suite": 2}
HEAP_GB_MAX = 4
# Where the program's bounded streaming runs keep their checkpoints
# (streaming.runner._ephemeral_ckpt).
SHM_GLOB = "/dev/shm/bfcms_*"


def host_sizing() -> tuple[int, str]:
    """Task slots = the CPUs this process may run on (fewer if
    SPARK_GRAFT_CPUS asks for fewer); heap = a quarter of physical memory,
    at most HEAP_GB_MAX."""
    cpus = len(os.sched_getaffinity(0))
    cpus = min(cpus, int(os.environ.get("SPARK_GRAFT_CPUS") or cpus))
    total_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return cpus, f"{max(1, min(HEAP_GB_MAX, int(total_gb // 4)))}g"


def configure_env(work: str, trace: bool) -> dict:
    """Point the scratch paths of Spark, Python and the program that follow
    ``TMPDIR`` into ``work`` and size the session to the host; must run
    before pyspark is imported."""
    cpus, heap = host_sizing()
    tmp = os.path.join(work, "tmp")
    eventlog = os.path.join(work, "eventlog")
    for d in (tmp, os.path.join(work, "local"), eventlog):
        os.makedirs(d)
    submit = [
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}"),
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if trace:
        submit += [
            "--conf spark.eventLog.enabled=true",
            "--conf", shlex.quote(f"spark.eventLog.dir=file://{eventlog}"),
            "--conf spark.eventLog.rolling.enabled=false",
            "--conf spark.eventLog.compress=false",
        ]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=heap,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return {"nproc": cpus, "heap": heap, "eventlog": eventlog}


def murmur3_keys_per_s() -> float:
    """Direct call into functions.hashing on a fixed 1M-key array."""
    import numpy as np

    from bloom_filters_count_min_sketch_spark_streaming_spark.functions.hashing import murmur3_hash_long

    keys = np.arange(1_000_000, dtype=np.int64) * np.int64(0x9E3779B1)
    times = []
    for _ in range(7):
        t = time.perf_counter()
        murmur3_hash_long(keys, 42)
        times.append(time.perf_counter() - t)
    return len(keys) / statistics.median(times)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def run_once(args, bench: dict, work: str) -> dict:
    env = configure_env(work, bool(args.trace))
    data_dir = os.path.join(work, "data")
    t = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "gen.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--out", data_dir],
        check=True,
    )
    gen_s = time.perf_counter() - t
    with open(os.path.join(data_dir, "meta.json")) as fh:
        meta = json.load(fh)

    sys.path.insert(0, ROOT)
    from perfbench import workloads
    from perfbench.trace import ProgressLog, Tracer, eventlog_metrics, stream_layer_metrics

    from bloom_filters_count_min_sketch_spark_streaming_spark.session import get_spark

    tracer = Tracer(bool(args.trace))
    t = time.perf_counter()
    spark = get_spark("perfbench")
    get_spark_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        sc = spark.sparkContext
        header = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "master": sc.master, "defaultParallelism": sc.defaultParallelism,
            "nproc": env["nproc"], "heap": spark.conf.get("spark.driver.memory"),
        }
        print("perfbench header: " + json.dumps(header), flush=True)
        ctx = SimpleNamespace(spark=spark, data_dir=data_dir, meta=meta, tracer=tracer, root=ROOT,
                      progress=ProgressLog(spark))
        wl = workloads.WORKLOADS[args.workload](ctx)
        wl.prepare()
        for i in range(WARM_ITERATIONS[args.workload]):
            wl.iterate(collect=i == 0)

        wl.timed = True
        iter_s, windows = [], []
        t_timed = time.perf_counter()
        setup_s = t_timed - T0 - gen_s
        while len(iter_s) < MIN_TIMED[args.workload] or time.perf_counter() - t_timed < args.seconds:
            t, wall = time.perf_counter(), time.time()
            wl.iterate(collect=False)
            iter_s.append(time.perf_counter() - t)
            windows.append((wall, time.time()))
        wl.timed = False
        print(f"perfbench: timed iterations (s): {[round(t, 3) for t in iter_s]}", file=sys.stderr)

        problems = wl.verify()
        for p in problems:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
        timed_batches = [p for p in ctx.progress.progress if p.get("timed")]
        pass_s = statistics.median(iter_s)
        metrics = {
            "setup_s": setup_s,
            "rows_per_s": wl.rows / pass_s,
            "pass_s": pass_s,
            "batch_ms_p50": wl.batch_ms_p50(),
        }
        layers = {}
        if args.trace:
            layers = {"session.get_spark_s": get_spark_s, "hashing.murmur3_keys_per_s": murmur3_keys_per_s()}
            layers.update(wl.layer_metrics())
            layers.update(stream_layer_metrics(timed_batches))
        ctx.progress.close()
    finally:
        stop_spark(spark)
    if args.trace:
        layers.update(eventlog_metrics(env["eventlog"], windows))
        os.makedirs(os.path.join(BENCH_DIR, "out"), exist_ok=True)
        with open(os.path.join(BENCH_DIR, "out", f"trace-{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"header": header, "iterations_s": iter_s, "end_to_end": metrics,
                       "per_layer": layers, "spans": tracer.spans,
                       "micro_batches": ctx.progress.progress}, fh)
    kind, values = ("per_layer", layers) if args.trace else ("end_to_end", metrics)
    return {
        "correct": not problems,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in bench[kind]
        },
    }


def repeat(args) -> int:
    """Run ``--repeat`` seeds in turn; print each metric's median and
    quartiles, and the quartile spread as a share of the median."""
    values: dict[str, list[float]] = {}
    for seed in range(args.seed, args.seed + args.repeat):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        t = time.perf_counter()
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        wall = time.perf_counter() - t
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"seed {seed}: exit {proc.returncode}", flush=True)
            return 1
        res = json.loads(lines[-1])
        print(f"seed {seed} ({wall:.1f} s): " + json.dumps(res), flush=True)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vals in values.items():
        q1, q2, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
        spread = (q3 - q1) / q2 if q2 else 0.0
        print(f"{name}: median {q2:.6g} quartiles {q1:.6g} {q3:.6g} spread {spread:.4f} n={len(vals)}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench: sketch-engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0, help="run this many seeds and summarize")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PKG)) or not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"perfbench: the program ({PKG}) is not in {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    if args.repeat:
        return repeat(args)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    work = os.path.join(BENCH_DIR, "work", f"{args.workload}-{os.getpid()}")
    shm_before = set(glob.glob(SHM_GLOB))
    # a terminated run still stops Spark and deletes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run_once(args, bench, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        # the program keeps streaming checkpoints in /dev/shm; remove the
        # ones this run left there
        for d in set(glob.glob(SHM_GLOB)) - shm_before:
            shutil.rmtree(d, ignore_errors=True)
        if os.path.isdir(os.path.dirname(work)) and not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
