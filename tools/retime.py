"""Warm re-time of named queries under bench.py's conditions: re-time warm
before calling anything a perf problem.

Same session factory, warmup, calibration, noop sink and cleanup as
bench.py (its helpers), min-of-N (default 3) per named query, compared
against the committed BENCH_FULL.json: the raw ratio and the
calibration-adjusted one, (warm_min / cal_now) / (committed / cal_committed),
which separates "the plan got slower" from "the host got slower".

Usage: python tools/retime.py [-n 3] name [name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", type=int, default=3)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        with open(os.path.join(REPO, "BENCH_FULL.json")) as f:
            full = json.load(f)
    except (OSError, json.JSONDecodeError):
        full = {}
    committed = full.get("queries", {})
    committed_cal = full.get("calibration_sec")

    import bench
    import __spark_entry__ as entrymod
    from bloom_filters_count_min_sketch_spark_streaming_spark.session import get_spark

    spark = get_spark("retime")
    queries = entrymod.queries()
    bench.warm_up(spark, sf_dir)
    cal_now = bench.calibrate(spark)
    print(f"# calibration: {cal_now}s (committed record: {committed_cal}s)", file=sys.stderr)

    results = {}
    for name in args.names:
        samples = bench.time_query(spark, queries[name], sf_dir, args.n)
        best = min(samples)
        spread = round(max(samples) / best, 2) if best > 0 else 1.0
        base = committed.get(name)
        ratio = round(best / base, 2) if base else None
        ratio_cal = (
            round((best / cal_now) / (base / committed_cal), 2)
            if base and committed_cal and cal_now
            else None
        )
        results[name] = {
            "warm_min": round(best, 3),
            "spread": spread,
            "committed": base,
            "vs_committed": ratio,
            "vs_committed_cal_adj": ratio_cal,
        }
        print(
            f"# {name}: warm_min={best:.3f}s spread=x{spread} "
            f"committed={base} ratio={ratio} cal_adj={ratio_cal}",
            file=sys.stderr,
            flush=True,
        )

    bench.shutdown(spark)
    print(json.dumps({"calibration": cal_now, "queries": results}))


if __name__ == "__main__":
    main()
