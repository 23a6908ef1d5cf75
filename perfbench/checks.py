"""Correctness checks, made apart from the program under test.

Each check takes the program's outputs and the exact figures the generator
computed with numpy (or a DuckDB oracle's result) and returns a list of
problems; an empty list means the check passed. Probabilistic guarantees
(Bloom false positives, CMS overestimates) are checked against a one-sided
binomial bound with ``Z`` standard deviations of slack, so a correct sketch
fails with probability far below one in a million.
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pandas as pd

Z = 6.0


def binomial_upper(n: int, p: float, z: float = Z) -> float:
    """Upper bound on a Binomial(n, p) count: mean + z sd, plus z so that
    tiny means (where the normal approximation is poor) keep some slack."""
    return n * p + z * math.sqrt(n * p * (1.0 - p)) + z


def cms_total_count(sketch: bytes) -> int:
    """totalCount of a serialized Spark CountMinSketch (int32 version 1,
    then big-endian int64 totalCount), read without the program's parser."""
    version, total = struct.unpack(">iq", sketch[:12])
    if version != 1:
        raise ValueError(f"unexpected CountMinSketch serialization version {version}")
    return total


def bloom_problems(
    member_rows: int, member_hits: int, probe_rows: int, probe_hits: int, fpp: float
) -> list[str]:
    """No false negatives over inserted rows; the false-positive count over
    a disjoint probe set stays within a binomial bound of ``fpp``."""
    problems = []
    if member_hits != member_rows:
        problems.append(f"bloom: {member_rows - member_hits} false negatives of {member_rows} inserted rows")
    limit = binomial_upper(probe_rows, fpp)
    if probe_hits > limit:
        problems.append(
            f"bloom: {probe_hits} false positives of {probe_rows} probes exceeds {limit:.0f} (fpp {fpp})"
        )
    return problems


def cms_problems(
    exact_keys: np.ndarray,
    exact_counts: np.ndarray,
    est_keys: np.ndarray,
    est_values: np.ndarray,
    n_total: int,
    sketch_total: int,
    eps: float,
    confidence: float,
) -> list[str]:
    """Every estimate is at least the exact count; at least ``confidence`` of
    the keys (less binomial slack) are within exact + eps*N; the sketch's
    total is N. ``exact_keys`` is sorted, as ``np.unique`` returns it."""
    problems = []
    if sketch_total != n_total:
        problems.append(f"cms: sketch total {sketch_total} != {n_total} rows")
    if len(est_keys) != len(exact_keys):
        problems.append(f"cms: {len(est_keys)} estimated keys, {len(exact_keys)} distinct keys")
    pos = np.clip(np.searchsorted(exact_keys, est_keys), 0, len(exact_keys) - 1)
    unknown = exact_keys[pos] != est_keys
    if unknown.any():
        problems.append(f"cms: {int(unknown.sum())} estimated keys were never inserted")
        return problems
    exact = exact_counts[pos]
    under = int((est_values < exact).sum())
    if under:
        problems.append(f"cms: {under} keys underestimated")
    over = int((est_values > exact + eps * n_total).sum())
    limit = binomial_upper(len(exact), 1.0 - confidence)
    if over > limit:
        problems.append(f"cms: {over} keys beyond exact + eps*N, more than {limit:.0f} allowed")
    return problems


def stream_progress_problems(input_rows: list[int], expected_rows: int, expected_batches: int) -> list[str]:
    """One micro-batch per replayed file, and every generated row read once."""
    problems = []
    if sum(input_rows) != expected_rows:
        problems.append(f"stream: {sum(input_rows)} rows read, {expected_rows} generated")
    if len(input_rows) != expected_batches:
        problems.append(f"stream: {len(input_rows)} micro-batches, {expected_batches} files")
    return problems


def stream_cms_problems(
    final: dict[tuple[str, int], int],
    exact: dict[str, list[int]],
    probe_ids: list[int],
    key_rows: dict[str, int],
    eps: float,
    confidence: float,
) -> list[str]:
    """Final per-(key, probe) running CMS estimates: never below the exact
    count, and within eps * (rows of that key) but for binomial slack."""
    problems = []
    missing = under = over = 0
    for key, counts in exact.items():
        for probe, true in zip(probe_ids, counts):
            est = final.get((key, probe))
            if est is None:
                missing += 1
            elif est < true:
                under += 1
            elif est > true + eps * key_rows[key]:
                over += 1
    pairs = len(exact) * len(probe_ids)
    if missing:
        problems.append(f"stream cms: {missing} of {pairs} (key, probe) pairs missing")
    if under:
        problems.append(f"stream cms: {under} (key, probe) pairs underestimated")
    limit = binomial_upper(pairs, 1.0 - confidence)
    if over > limit:
        problems.append(f"stream cms: {over} pairs beyond exact + eps*N_key, more than {limit:.0f} allowed")
    if len(final) != pairs:
        problems.append(f"stream cms: {len(final)} (key, probe) pairs emitted, {pairs} expected")
    return problems


def stream_bloom_problems(final: dict[str, int], exact: dict[str, int], fpp: float) -> list[str]:
    """Final running distinct count per key: never above the exact distinct
    count (no false negatives means no double count), and short of it only
    by the false positives its fpp allows."""
    problems = []
    if set(final) != set(exact):
        problems.append(f"stream bloom: keys {sorted(set(final) ^ set(exact))[:5]} differ")
    for key, true in exact.items():
        got = final.get(key, 0)
        if got > true:
            problems.append(f"stream bloom: {key} counts {got} distinct, exact {true}")
        elif true - got > binomial_upper(true, fpp):
            problems.append(f"stream bloom: {key} counts {got} distinct, {true - got} short of {true}")
    return problems


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, row-sorted frame with engine-neutral dtypes."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            df[c] = pd.to_datetime(col).dt.tz_localize(None).astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(col) or pd.api.types.is_integer_dtype(col):
            df[c] = col.astype("Int64")
        elif pd.api.types.is_float_dtype(col):
            df[c] = col.astype("float64")
        else:
            df[c] = col.map(lambda v: None if v is None else str(v))
    return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)


def frame_problems(got: pd.DataFrame, oracle: pd.DataFrame) -> list[str]:
    """Order-insensitive exact comparison of a query result with its oracle:
    same column names, same row count, equal values (NULL equals NULL)."""
    if sorted(got.columns) != sorted(oracle.columns):
        return [f"columns {sorted(got.columns)} != oracle {sorted(oracle.columns)}"]
    if len(got) != len(oracle):
        return [f"{len(got)} rows != oracle {len(oracle)}"]
    a, b = _normalize(got.copy()), _normalize(oracle.copy())
    problems = []
    for c in a.columns:
        if str(a[c].dtype) != str(b[c].dtype):
            problems.append(f"column {c}: dtype {a[c].dtype} != oracle {b[c].dtype}")
            continue
        same = (a[c] == b[c]).fillna(False) | (a[c].isna() & b[c].isna())
        if not same.all():
            problems.append(f"column {c}: {int((~same).sum())} values differ")
    return problems
