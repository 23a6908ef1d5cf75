"""Seeded input generator for the benchmark workloads.

Every input of a run comes from one ``numpy.random.Generator`` seeded with
``--seed``: the same seed writes byte-identical parquet, another seed writes
different data. Besides the tables, the generator writes ``meta.json`` with
the exact figures the correctness checks compare against (distinct counts,
per-key counts, join sizes), computed here with numpy and never by the
program under test.

Run as a process of its own:

    python3 perfbench/gen.py --workload sketch_batch --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sketch_batch: a Zipf(1.05) key column over a 2**20-rank universe, a probe
# set disjoint from it, and a small dimension table for the pre-filter join.
SKETCH_ROWS = 1_500_000
SKETCH_UNIVERSE = 1 << 20
SKETCH_ZIPF_S = 1.05
SKETCH_DISJOINT_ROWS = 500_000
SKETCH_DIM_ROWS = 20_000
SKETCH_FILES = 8

# stream_state: events with a few dozen types and Zipf user ids, so each
# event type sees far fewer than the 100,000 ids running_bloom_distinct is
# sized for.
STREAM_ROWS = 120_000
STREAM_TYPES = 8
STREAM_USERS = 20_000
STREAM_ZIPF_S = 1.1
STREAM_FILES = 2
STREAM_PROBES = 16

# query_suite: tables shaped like the sf0.01 fixtures (FIXTURES.md), with
# skewed categorical frequencies so no top-k ranking ties.
QUERY_EVENTS = 10_000
QUERY_USERS = 150
QUERY_CUSTOMERS = 1_500
QUERY_ORDERS = 15_000
QUERY_LINEITEMS = 60_000
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENT_TYPE_P = [0.32, 0.26, 0.19, 0.14, 0.09]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

_MIX = 0x9E3779B97F4A7C15  # odd, so rank -> key is a bijection mod 2**62
_US = 1_000_000


def _zipf(rng: np.random.Generator, n: int, universe: int, s: float) -> np.ndarray:
    """n draws of 0-based ranks from a bounded Zipf(s) over ``universe`` ranks."""
    cdf = np.cumsum(np.arange(1, universe + 1, dtype=np.float64) ** -s)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n), side="right"), universe - 1)


def _even_keys(ranks: np.ndarray) -> np.ndarray:
    """Scatter ranks over even non-negative int64 keys (distinct ranks stay
    distinct); odd keys are therefore never inserted."""
    mixed = (ranks.astype(np.uint64) * np.uint64(_MIX)) & np.uint64((1 << 62) - 1)
    return (mixed << np.uint64(1)).astype(np.int64)


def _write(table: pa.Table, path: str, files: int = 1) -> None:
    """One parquet file, or a directory of ``files`` equal row slices."""
    if files == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def _micros(start: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def sketch_batch(rng: np.random.Generator, out: str) -> dict:
    keys = _even_keys(_zipf(rng, SKETCH_ROWS, SKETCH_UNIVERSE, SKETCH_ZIPF_S))
    disjoint = rng.integers(0, 1 << 62, SKETCH_DISJOINT_ROWS, dtype=np.int64) * 2 + 1
    uniq, counts = np.unique(keys, return_counts=True)
    # half the dimension keys are inserted keys, half can never match
    hit = rng.choice(uniq, SKETCH_DIM_ROWS // 2, replace=False)
    miss = rng.integers(0, 1 << 62, SKETCH_DIM_ROWS - len(hit), dtype=np.int64) * 2 + 1
    dim = np.unique(np.concatenate([hit, miss]))
    rng.shuffle(dim)
    join_rows = int(counts[np.isin(uniq, dim)].sum())
    _write(pa.table({"k": keys}), os.path.join(out, "keys"), SKETCH_FILES)
    _write(pa.table({"k": disjoint}), os.path.join(out, "disjoint"), SKETCH_FILES)
    _write(
        pa.table({"k": dim, "attr": rng.integers(0, 1000, len(dim), dtype=np.int64)}),
        os.path.join(out, "dim.parquet"),
    )
    np.save(os.path.join(out, "exact_keys.npy"), uniq)
    np.save(os.path.join(out, "exact_counts.npy"), counts)
    return {
        "rows": SKETCH_ROWS + SKETCH_DISJOINT_ROWS + int(len(dim)),
        "key_rows": SKETCH_ROWS,
        "disjoint_rows": SKETCH_DISJOINT_ROWS,
        "distinct_keys": int(len(uniq)),
        "dim_rows": int(len(dim)),
        "join_rows": join_rows,
    }


def stream_state(rng: np.random.Generator, out: str) -> dict:
    n = STREAM_ROWS
    type_w = np.arange(1, STREAM_TYPES + 1, dtype=np.float64) ** -0.5
    types = np.array([f"type_{i:02d}" for i in range(STREAM_TYPES)])
    type_idx = rng.choice(STREAM_TYPES, n, p=type_w / type_w.sum())
    users = _zipf(rng, n, STREAM_USERS, STREAM_ZIPF_S).astype(np.int64)
    gaps = rng.integers(1, 2 * _US, n)  # strictly rising timestamps
    events = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _micros("2024-01-01", np.cumsum(gaps)),
            "user_id": users,
            "event_type": types[type_idx],
            "value": np.round(rng.exponential(40.0, n) + 0.01, 2),
        }
    )
    pq.write_table(events, os.path.join(out, "events.parquet"))
    # hot ids and a sample of the tail
    probes = np.concatenate(
        [np.arange(STREAM_PROBES // 2), rng.choice(np.arange(100, STREAM_USERS), STREAM_PROBES // 2, replace=False)]
    ).astype(np.int64)
    exact_cms = {}
    exact_distinct = {}
    key_rows = {}
    for t in range(STREAM_TYPES):
        u = users[type_idx == t]
        key_rows[types[t]] = int(len(u))
        exact_distinct[types[t]] = int(len(np.unique(u)))
        exact_cms[types[t]] = [int((u == p).sum()) for p in probes]
    return {
        "rows": n,
        "files": STREAM_FILES,
        "probe_ids": probes.tolist(),
        "key_rows": key_rows,
        "exact_probe_counts": exact_cms,
        "exact_distinct": exact_distinct,
    }


def query_suite(rng: np.random.Generator, out: str) -> dict:
    n = QUERY_EVENTS
    gaps = rng.integers(1, 2 * 30 * 86_400 * _US // n, n)
    events = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _micros("2024-01-01", np.cumsum(gaps)),
            "user_id": rng.integers(0, QUERY_USERS, n, dtype=np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.choice(len(EVENT_TYPES), n, p=EVENT_TYPE_P)],
            "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n)],
        }
    )
    nc = QUERY_CUSTOMERS
    customer = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc, dtype=np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), nc)],
        }
    )
    no = QUERY_ORDERS
    order_day = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    orders = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, no), 2),
            "o_orderdate": pa.array(
                (np.datetime64("1995-01-01", "ms") + order_day * np.timedelta64(1, "D")),
                type=pa.timestamp("ms"),
            ),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, len(PRIORITIES), no)],
        }
    )
    nl = QUERY_LINEITEMS
    l_order = rng.integers(0, no, nl, dtype=np.int64)
    ship = order_day[l_order] + rng.integers(1, 122, nl)
    lineitem = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, 2000, nl, dtype=np.int64),
            "l_suppkey": rng.integers(0, 100, nl, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, nl, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 100_000.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": pa.array(
                np.datetime64("1995-01-01", "ms") + ship * np.timedelta64(1, "D"),
                type=pa.timestamp("ms"),
            ),
        }
    )
    for name, table in [("events", events), ("customer", customer), ("orders", orders), ("lineitem", lineitem)]:
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return {"rows": n + nc + no + nl}


WORKLOADS = {"sketch_batch": sketch_batch, "stream_state": stream_state, "query_suite": query_suite}


def generate(workload: str, seed: int, out: str) -> dict:
    """Write ``workload``'s inputs under ``out`` (created) and return its meta."""
    os.makedirs(out, exist_ok=True)
    meta = WORKLOADS[workload](np.random.default_rng(seed), out)
    meta["seed"] = seed
    with open(os.path.join(out, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    generate(args.workload, args.seed, args.out)


if __name__ == "__main__":
    main()
