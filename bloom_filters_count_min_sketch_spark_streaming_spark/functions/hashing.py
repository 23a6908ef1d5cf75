"""Vectorized (numpy) reimplementation of Spark's Murmur3_x86_32.hashLong.

Why this exists: Spark's ``org.apache.spark.util.sketch.BloomFilter`` hashes
items with Murmur3_x86_32 on the JVM. Executor probes no longer need it:
``bloom_might_contain`` runs Catalyst's ``BloomFilterMightContain`` on the
JVM. This port serves the driver side, where ``BloomFilterSketch`` answers
membership for filters it has merged or intersected in numpy (checks in
the sketch queries) without a py4j round trip per key, and the parity tests
that pin those answers to the JVM's.

Matches byte-for-byte with the JVM implementation (see
tests/test_bloom.py::test_murmur3_matches_jvm).
"""

from __future__ import annotations

import numpy as np

# Shared key-normalization contract for every sketch (Bloom build/probe and
# CMS build/probe must agree on it): integral columns pass through as
# BIGINT, everything else hashes JVM-side with xxhash64. Kept in ONE place
# so build and probe can never drift apart.
_LONG_TYPES = {"bigint", "int", "smallint", "tinyint"}


def as_long_key(df, col: str):
    """Column expression normalizing df[col] to BIGINT for sketch keying.

    NULL-preserving for every column type: xxhash64(NULL) would return the
    seed (42, non-null), which made string-column NULLs enter builds as a
    phantom key and made NULL probes answer TRUE instead of NULL. Guarding
    with isNull keeps 'NULL in -> NULL out' uniform across types (matching
    Spark's might_contain semantics).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    dtype = dict(df.dtypes)[col]
    if dtype in _LONG_TYPES:
        return F.col(col).cast(LongType())
    return F.when(F.col(col).isNull(), F.lit(None).cast(LongType())).otherwise(
        F.xxhash64(F.col(col))
    )

_C1 = np.uint32(0xCC9E2D51)
_C2 = np.uint32(0x1B873593)
_M5 = np.uint32(5)
_N = np.uint32(0xE6546B64)


def _rotl32(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint32(r)) | (x >> np.uint32(32 - r))


def _mix_k1(k1: np.ndarray) -> np.ndarray:
    k1 = k1 * _C1
    k1 = _rotl32(k1, 15)
    return k1 * _C2


def _mix_h1(h1: np.ndarray, k1: np.ndarray) -> np.ndarray:
    h1 = h1 ^ k1
    h1 = _rotl32(h1, 13)
    return h1 * _M5 + _N


def _fmix(h1: np.ndarray, length: int) -> np.ndarray:
    h1 = h1 ^ np.uint32(length)
    h1 = h1 ^ (h1 >> np.uint32(16))
    h1 = h1 * np.uint32(0x85EBCA6B)
    h1 = h1 ^ (h1 >> np.uint32(13))
    h1 = h1 * np.uint32(0xC2B2AE35)
    h1 = h1 ^ (h1 >> np.uint32(16))
    return h1


def murmur3_hash_long(values: np.ndarray, seed: np.ndarray | int) -> np.ndarray:
    """Murmur3_x86_32.hashLong for an int64 array; returns int32 array.

    ``seed`` may be a scalar or a per-element int32/uint32 array (the Bloom
    probe chains h2 = hashLong(v, h1)).
    """
    with np.errstate(over="ignore"):
        v = values.astype(np.int64, copy=False)
        low = (v & np.int64(0xFFFFFFFF)).astype(np.uint32)
        high = ((v >> np.int64(32)) & np.int64(0xFFFFFFFF)).astype(np.uint32)
        if isinstance(seed, np.ndarray):
            h1 = seed.astype(np.uint32, copy=False)
        else:
            h1 = np.full(len(v), np.uint32(np.int64(seed) & 0xFFFFFFFF), dtype=np.uint32)
        h1 = _mix_h1(h1, _mix_k1(low))
        h1 = _mix_h1(h1, _mix_k1(high))
        return _fmix(h1, 8).astype(np.int32)
