"""Local stand-in for the driver's correctness gate.

Runs every registered query at sf0.01 through Spark AND its DuckDB oracle,
compares row count, column names, and (column-name-sorted, row-sorted)
values. Exact equality required — if this passes, any order-insensitive
value hash the driver computes will match.

Usage: python tools/check_oracle.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif df[c].dtype == object:
            import datetime

            first = df[c].dropna().head(1)
            if len(first) and isinstance(first.iloc[0], (datetime.date, datetime.datetime)):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
            elif len(first) and isinstance(first.iloc[0], (list, np.ndarray)):
                df[c] = df[c].map(lambda v: str(list(v)) if v is not None else None)
            else:
                df[c] = df[c].map(lambda v: str(v) if v is not None else None)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            # Exact compare: float64 would silently lose bits above 2^53
            # (xxhash64/simhash-valued columns) — a false-PASS path.
            df[c] = df[c].astype("Int64")  # unify int widths / NULL-ability
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("Int64")
    return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"columns differ: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count differs: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    a, b = _normalize(spark_pdf.copy()), _normalize(duck_pdf.copy())
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c], b[c]
            if str(av.dtype) != str(bv.dtype):
                # int-vs-float after normalize = DuckDB widened (HUGEINT) or
                # one engine emits float where the other emits int — the
                # driver's value-hash distinguishes these even if values match
                problems.append(f"column {c}: dtype differs: spark={av.dtype} duck={bv.dtype}")
                continue
            if pd.api.types.is_float_dtype(av):
                ok = np.allclose(av.fillna(math.nan), bv.fillna(math.nan), rtol=0, atol=0, equal_nan=True)
            else:
                ok = av.fillna("\0NULL").equals(bv.fillna("\0NULL"))
            if not ok:
                mism = (av.fillna("\0N") != bv.fillna("\0N")) if not pd.api.types.is_float_dtype(av) else ~(
                    np.isclose(av.fillna(math.nan), bv.fillna(math.nan), rtol=0, atol=0, equal_nan=True)
                )
                idx = np.where(mism)[0][:3]
                detail = "; ".join(f"row{i}: spark={av.iloc[i]!r} duck={bv.iloc[i]!r}" for i in idx)
                problems.append(f"column {c}: {int(mism.sum())} mismatching values ({detail})")
    return problems


def duckdb_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per fixture table under sf_dir,
    the names every oracle SQL string reads.

    DuckDB's own default limit is 80% of physical RAM, which beside the
    Spark driver heap lets one oracle exhaust the host and kill the whole
    sweep; at a quarter of RAM such an oracle raises OutOfMemoryException
    instead, which the sweep reports as that query's FAIL."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.sources.io import TABLES

    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    con = duckdb.connect()
    con.sql(f"SET memory_limit = '{ram_mb // 4}MB'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="plain SparkSession (no engine configs) — the driver's condition",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    # the checkout this script sits in, so a sweep run from a copy checks
    # the copy's code
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod

    from bloom_filters_count_min_sketch_spark_streaming_spark.session import (
        get_spark,
        release_query_state,
    )

    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").appName("check-vanilla").getOrCreate()
    else:
        spark = get_spark("check-oracle")
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb_views(args.sf)

    names = args.names or list(queries)
    n_pass = n_fail = n_weak = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = queries[name](spark, args.sf)
            spdf = sdf.toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark raised {type(exc).__name__}: {exc}")
            n_fail += 1
            continue
        finally:
            release_query_state(spark)
        if name not in oracles:
            print(f"weak {name}: rows={len(spdf)} (no oracle) [{time.time()-t0:.1f}s]")
            n_weak += 1
            continue
        try:
            dpdf = con.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb raised {type(exc).__name__}: {exc}")
            n_fail += 1
            continue
        problems = compare(spdf, dpdf)
        if problems:
            print(f"FAIL {name}: rows={len(spdf)} vs {len(dpdf)} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"      {p}")
            n_fail += 1
        else:
            print(f"PASS {name}: rows={len(spdf)} [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_weak} weak (rows-only), {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
