"""Bloom filter operators (reference core surface A1/A2).

Capability parity target: the reference maintains a Bloom filter over a
stream and answers approximate membership ("might contain") with zero false
negatives and a tunable false-positive rate (Bloom, CACM 1970).

Spark-first design:

- **build** — ``DataFrameStatFunctions.bloomFilter`` on the JVM: a
  treeAggregate over the column, so the bit array is OR-merged
  executor-side and only the final (kilobyte-to-megabyte) filter reaches
  the driver. This is exactly the 100 TB-safe shape: data never moves, the
  sketch does. PySpark exposes no Python wrapper, so we bridge via py4j.
- **probe** — Catalyst's own ``BloomFilterMightContain`` expression, the
  class Spark's runtime join filters use, with the serialized filter as a
  binary literal. The filter was written by the JVM's ``BloomFilterImpl``
  and is read back by the same class, so probe answers match the build by
  construction. The probe runs in whole-stage codegen on every task slot;
  no Python worker and no Arrow round trip is involved.

Non-long columns are normalized with ``xxhash64`` before both build and
probe, so both sides only ever see BIGINT keys (one shared contract,
``hashing.as_long_key``). ``BloomFilterSketch`` parses the same bytes on
the driver for set algebra (union/intersect) and driver-side checks.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from bloom_filters_count_min_sketch_spark_streaming_spark.functions.hashing import (
    as_long_key as _as_long,
    murmur3_hash_long,
)


@dataclass(frozen=True)
class BloomFilterSketch:
    """Parsed form of org.apache.spark.util.sketch.BloomFilter.

    Serialized layouts (big-endian, from BloomFilterImpl{,V2}.writeTo):
      V1: int32 version(=1), int32 numHashFunctions, BitArray
      V2: int32 version(=2), int32 numHashFunctions, int32 seed, BitArray
    where BitArray = int32 numWords, then numWords int64 words.
    """

    version: int
    num_hash_functions: int
    seed: int
    words: np.ndarray  # uint64[num_words]

    @property
    def bit_size(self) -> int:
        return len(self.words) * 64

    @classmethod
    def from_bytes(cls, data: bytes) -> "BloomFilterSketch":
        def read_int(off: int) -> int:
            return int.from_bytes(data[off : off + 4], "big", signed=True)

        version = read_int(0)
        if version == 1:
            k, seed, bits_off = read_int(4), 0, 8
        elif version == 2:
            k, seed, bits_off = read_int(4), read_int(8), 12
        else:
            raise ValueError(f"unsupported BloomFilter serialization version {version}")
        num_words = read_int(bits_off)
        words = np.frombuffer(
            data[bits_off + 4 : bits_off + 4 + 8 * num_words], dtype=">i8"
        ).astype(np.uint64)
        return cls(version=version, num_hash_functions=k, seed=seed, words=words)

    def to_bytes(self) -> bytes:
        """Inverse of from_bytes (same V1/V2 big-endian layout), so merged
        filters can round-trip through the JVM reader and the probe path."""
        head = self.version.to_bytes(4, "big", signed=True) + self.num_hash_functions.to_bytes(
            4, "big", signed=True
        )
        if self.version == 2:
            head += self.seed.to_bytes(4, "big", signed=True)
        bits = len(self.words).to_bytes(4, "big", signed=True) + self.words.astype(">i8").tobytes()
        return head + bits

    def _check_compatible(self, other: "BloomFilterSketch") -> None:
        if (
            self.version != other.version
            or self.num_hash_functions != other.num_hash_functions
            or self.seed != other.seed
            or len(self.words) != len(other.words)
        ):
            raise ValueError("incompatible Bloom filters: version/k/seed/size differ")

    def union(self, other: "BloomFilterSketch") -> "BloomFilterSketch":
        """Bitwise OR — exactly JVM mergeInPlace. might_contain(union, x) is
        true for every x inserted into either side (no false negatives)."""
        self._check_compatible(other)
        return BloomFilterSketch(
            version=self.version,
            num_hash_functions=self.num_hash_functions,
            seed=self.seed,
            words=self.words | other.words,
        )

    def intersect(self, other: "BloomFilterSketch") -> "BloomFilterSketch":
        """Bitwise AND — JVM intersectInPlace. Still no false negatives for
        x in A∩B (x's bits were set in both); FPP can exceed the two
        filters' individual rates (bits shared by different keys)."""
        self._check_compatible(other)
        return BloomFilterSketch(
            version=self.version,
            num_hash_functions=self.num_hash_functions,
            seed=self.seed,
            words=self.words & other.words,
        )

    def _test_bits(self, idx: np.ndarray) -> np.ndarray:
        word = self.words[(idx >> 6).astype(np.int64)]
        return ((word >> (idx.astype(np.uint64) & np.uint64(63))) & np.uint64(1)).astype(bool)

    def might_contain_longs(self, values: np.ndarray) -> np.ndarray:
        """Vectorized membership test; mirrors mightContainLong of V1/V2."""
        h1 = murmur3_hash_long(values, self.seed)
        h2 = murmur3_hash_long(values, h1.view(np.uint32))
        bit_size = np.int64(self.bit_size)
        out = np.ones(len(values), dtype=bool)
        with np.errstate(over="ignore"):
            if self.version == 1:
                # combined(i) = int32(h1 + i*h2), flip if negative, mod bitSize
                for i in range(1, self.num_hash_functions + 1):
                    combined = (h1 + np.int32(i) * h2).astype(np.int32)
                    combined = np.where(combined < 0, ~combined, combined)
                    out &= self._test_bits(combined.astype(np.int64) % bit_size)
            else:
                # combined(i) = int64(h1)*2147483647 + i*int64(h2), flip if
                # negative, mod bitSize (BloomFilterImplV2.scatterHashAndGetAllBits)
                base = h1.astype(np.int64) * np.int64(2147483647)
                lo = h2.astype(np.int64)
                for i in range(1, self.num_hash_functions + 1):
                    combined = base + np.int64(i) * lo
                    combined = np.where(combined < 0, ~combined, combined)
                    out &= self._test_bits(combined % bit_size)
        return out


class NumpyBloom:
    """Self-contained numpy Bloom filter for *engine-internal* state
    (streaming per-key seen-sets). Multiply-shift hash family; own
    serialization; an OR-mergeable monoid like the JVM sketch. No false
    negatives by construction."""

    def __init__(self, n_bits: int, hash_a: np.ndarray, bits: np.ndarray) -> None:
        self.n_bits = n_bits
        self.hash_a = hash_a
        self.bits = bits  # uint64 words

    @classmethod
    def from_params(cls, expected_items: int, fpp: float, seed: int = 42) -> "NumpyBloom":
        import math

        n_bits = max(64, int(-expected_items * math.log(fpp) / (math.log(2) ** 2)))
        n_bits = ((n_bits + 63) // 64) * 64
        k = max(1, round(n_bits / expected_items * math.log(2)))
        rng = np.random.default_rng(seed)
        # pairs (a_i, b_i): positions come from a_i * (v XOR b_i), so no
        # input value (0 included) degenerates to the same position for
        # every hash function
        hash_a = rng.integers(1, 2**62, size=2 * k, dtype=np.int64) | np.int64(1)
        return cls(n_bits, hash_a, np.zeros(n_bits // 64, dtype=np.uint64))

    def _positions(self, v: np.ndarray) -> np.ndarray:
        k = len(self.hash_a) // 2
        a = self.hash_a[:k, None]
        b = self.hash_a[k:, None]
        with np.errstate(over="ignore"):
            prod = a * (v[None, :] ^ b)
            h = (prod + (prod >> np.int64(32))) & np.int64(0x7FFFFFFF)
            return h.astype(np.int64) % np.int64(self.n_bits)

    def add_longs(self, values: np.ndarray) -> None:
        pos = self._positions(values.astype(np.int64, copy=False)).ravel()
        np.bitwise_or.at(self.bits, pos >> 6, np.uint64(1) << (pos.astype(np.uint64) & np.uint64(63)))

    def might_contain_longs(self, values: np.ndarray) -> np.ndarray:
        pos = self._positions(values.astype(np.int64, copy=False))
        word = self.bits[pos >> 6]
        bit = (word >> (pos.astype(np.uint64) & np.uint64(63))) & np.uint64(1)
        return bit.astype(bool).all(axis=0)

    def to_bytes(self) -> bytes:
        import struct

        head = struct.pack(">ii", self.n_bits, len(self.hash_a))
        return head + self.hash_a.tobytes() + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "NumpyBloom":
        import struct

        n_bits, n_hashes = struct.unpack(">ii", data[:8])
        off = 8
        hash_a = np.frombuffer(data[off : off + 8 * n_hashes], dtype=np.int64).copy()
        off += 8 * n_hashes
        bits = np.frombuffer(data[off : off + n_bits // 8], dtype=np.uint64).copy()
        return cls(n_bits, hash_a, bits)

    def __reduce__(self):
        return type(self).from_bytes, (self.to_bytes(),)


class CountingBloom:
    """Counting Bloom filter (Fan et al., ToN 2000): int64 counters instead
    of bits, so the sketch supports DELETE — the one operation a plain
    Bloom filter cannot do. Same multiply-shift hash family as NumpyBloom
    (so the two are position-compatible for the same params/seed).

    Invariants:
    - insert(x) then delete(x) restores the exact counter state (counters
      form an abelian group under element-wise add).
    - After any multiset of inserts/deletes with deletes ⊆ inserts,
      membership has NO false negatives for remaining items and the usual
      Bloom FPP for absent ones.
    - Merge = element-wise counter sum (commutative/associative), so the
      distributed build can combine per-partition contributions in any
      order — see ``counting_bloom_counter_deltas`` for the shuffle shape.
    """

    def __init__(self, n_counters: int, hash_a: np.ndarray, counters: np.ndarray) -> None:
        self.n_counters = n_counters
        self.hash_a = hash_a
        self.counters = counters  # int64[n_counters]

    @classmethod
    def from_params(cls, expected_items: int, fpp: float, seed: int = 42) -> "CountingBloom":
        import math

        n = max(64, int(-expected_items * math.log(fpp) / (math.log(2) ** 2)))
        n = ((n + 63) // 64) * 64
        k = max(1, round(n / expected_items * math.log(2)))
        rng = np.random.default_rng(seed)
        hash_a = rng.integers(1, 2**62, size=2 * k, dtype=np.int64) | np.int64(1)
        return cls(n, hash_a, np.zeros(n, dtype=np.int64))

    def _positions(self, v: np.ndarray) -> np.ndarray:
        k = len(self.hash_a) // 2
        a = self.hash_a[:k, None]
        b = self.hash_a[k:, None]
        with np.errstate(over="ignore"):
            prod = a * (v[None, :] ^ b)
            h = (prod + (prod >> np.int64(32))) & np.int64(0x7FFFFFFF)
            return h.astype(np.int64) % np.int64(self.n_counters)

    def add_longs(self, values: np.ndarray, delta: int = 1) -> None:
        pos = self._positions(values.astype(np.int64, copy=False)).ravel()
        np.add.at(self.counters, pos, np.int64(delta))

    def delete_longs(self, values: np.ndarray) -> None:
        self.add_longs(values, delta=-1)

    def might_contain_longs(self, values: np.ndarray) -> np.ndarray:
        pos = self._positions(values.astype(np.int64, copy=False))
        return (self.counters[pos] > 0).all(axis=0)

    def merge(self, other: "CountingBloom") -> "CountingBloom":
        if self.n_counters != other.n_counters or not np.array_equal(
            self.hash_a, other.hash_a
        ):
            raise ValueError("incompatible counting Bloom filters")
        return CountingBloom(self.n_counters, self.hash_a, self.counters + other.counters)


def counting_bloom_build(
    df: DataFrame,
    col: str,
    expected_items: int,
    fpp: float,
    delete_df: DataFrame | None = None,
    delete_col: str | None = None,
    seed: int = 42,
) -> CountingBloom:
    """Distributed counting-Bloom build: inserts from ``df[col]`` minus
    deletes from ``delete_df[delete_col]`` (every delete must correspond to
    an inserted occurrence for membership soundness — multiset semantics).

    Scale shape: each side maps rows to SPARSE (position, ±1) pairs inside
    an Arrow batch, partial-aggregated map-side by the groupBy — the
    shuffle carries O(distinct touched counters) rows, never a dense
    counter array per partition, and only the final merged sparse counter
    table (≤ n_counters rows) reaches the driver. This is the CMS/Bloom
    "move the sketch, not the data" contract with group (not just monoid)
    merge.
    """
    proto = CountingBloom.from_params(expected_items, fpp, seed)
    hash_a = proto.hash_a
    n_counters = proto.n_counters

    def deltas(side_df: DataFrame, side_col: str, delta: int) -> DataFrame:
        probe = CountingBloom(n_counters, hash_a, proto.counters)  # counters unused

        def batch_deltas(batches):
            # Pre-aggregate WITHIN each Arrow batch: k positions per row
            # collapse to (pos, count) via np.unique before anything hits
            # the shuffle — the exploded k×rows stream never materializes
            # as shuffle input, only ≤ distinct-touched-counters rows do.
            for pdf in batches:
                v = pdf["k"].to_numpy(dtype=np.int64, na_value=0)
                pos = probe._positions(v).ravel()  # noqa: SLF001 — same-module helper
                upos, cnt = np.unique(pos, return_counts=True)
                yield pd.DataFrame({"pos": upos, "d": cnt.astype(np.int64) * delta})

        keyed = side_df.select(_as_long(side_df, side_col).alias("k")).where(
            F.col("k").isNotNull()
        )
        return keyed.mapInPandas(batch_deltas, "pos long, d long")

    parts = deltas(df, col, 1)
    if delete_df is not None:
        parts = parts.unionAll(deltas(delete_df, delete_col or col, -1))
    sparse = parts.groupBy("pos").agg(F.sum("d").alias("c")).filter(F.col("c") != 0)
    # Arrow transfer + one vectorized scatter — no per-row driver loop.
    pdf = sparse.toPandas()
    counters = np.zeros(n_counters, dtype=np.int64)
    counters[pdf["pos"].to_numpy(dtype=np.int64)] = pdf["c"].to_numpy(dtype=np.int64)
    return CountingBloom(n_counters, hash_a, counters)


def counting_bloom_might_contain(
    df: DataFrame, col: str, sketch: CountingBloom, out: str = "might_contain"
) -> DataFrame:
    """Boolean ``out`` column: membership against the counting filter
    (all k counters > 0). The counter array can be tens of MB (it is
    n_counters int64s), so it ships as a Spark BROADCAST — once per
    executor, torrent-distributed — not a closure capture pickled into
    every task. Per-row work is vectorized numpy."""
    bc = df.sparkSession.sparkContext.broadcast(
        (sketch.n_counters, sketch.hash_a, sketch.counters)
    )

    @F.pandas_udf(BooleanType())
    def _probe(keys: pd.Series) -> pd.Series:
        n, hash_a, counters = bc.value
        probe = CountingBloom(n, hash_a, counters)
        mask = keys.isna().to_numpy()
        values = keys.to_numpy(dtype=np.int64, na_value=0)
        result = pd.Series(probe.might_contain_longs(values), dtype="object")
        result[mask] = None
        return result

    return df.withColumn(out, _probe(_as_long(df, col)))


def bloom_build(df: DataFrame, col: str, expected_items: int, fpp: float) -> bytes:
    """Build a Bloom filter over ``df[col]`` distributively; return its bytes.

    JVM path: Dataset.stat.bloomFilter → treeAggregate of the bit array.
    Zero non-null rows give an empty filter (matches nothing); every other
    failure propagates.
    """
    jdf = df.select(_as_long(df, col).alias(col)).where(F.col(col).isNotNull())._jdf  # noqa: SLF001
    jvm = df.sparkSession._jvm  # noqa: SLF001
    try:
        jbloom = jdf.stat().bloomFilter(col, int(expected_items), float(fpp))
    except Py4JJavaError as exc:
        if not _is_zero_row_failure(exc):
            raise
        jbloom = jvm.org.apache.spark.util.sketch.BloomFilter.create(
            int(expected_items), float(fpp)
        )
    bos = jvm.java.io.ByteArrayOutputStream()
    jbloom.writeTo(bos)
    return bytes(bos.toByteArray())


def _is_zero_row_failure(exc: Py4JJavaError) -> bool:
    """True for the one failure ``stat().bloomFilter`` raises on zero rows:
    the aggregate yields NULL and ``BloomFilter.readFrom`` dereferences it
    (an NPE whose trace runs through that method). A cancelled job, an OOM
    or a failing input expression raises something else."""
    jexc = exc.java_exception
    if jexc.getClass().getName() != "java.lang.NullPointerException":
        return False
    return any(
        frame.getClassName() == "org.apache.spark.util.sketch.BloomFilter"
        and frame.getMethodName() == "readFrom"
        for frame in jexc.getStackTrace()
    )


def _might_contain_column(spark, bloom_bytes: bytes, key: Column) -> Column:
    """Column for Catalyst's ``BloomFilterMightContain(Literal(bytes), key)``.

    The expression is internal Catalyst API, absent from the SQL function
    registry, so it is reached through py4j. If a Spark build lacks it this
    fails loudly instead of probing some other way."""
    jvm = spark._jvm  # noqa: SLF001
    expr_cls = jvm.org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    utils = jvm.org.apache.spark.sql.classic.ExpressionUtils
    if not (isinstance(expr_cls, JavaClass) and isinstance(utils, JavaClass)):
        raise RuntimeError(
            "this Spark build lacks org.apache.spark.sql.catalyst.expressions."
            "BloomFilterMightContain or org.apache.spark.sql.classic.ExpressionUtils; "
            "bloom_might_contain needs both (Spark 4.x classic)"
        )
    literal = jvm.org.apache.spark.sql.catalyst.expressions.Literal.create(
        bytearray(bloom_bytes), jvm.org.apache.spark.sql.types.DataTypes.BinaryType
    )
    return Column(utils.column(expr_cls(literal, utils.expression(key._jc))))  # noqa: SLF001


def bloom_might_contain(df: DataFrame, col: str, bloom_bytes: bytes, out: str = "might_contain") -> DataFrame:
    """Add boolean ``out`` column: approximate membership of ``col``.

    ``bloom_bytes`` (from ``bloom_build`` or ``BloomFilterSketch.to_bytes``)
    is embedded in the plan as a binary literal and probed by Catalyst's
    ``BloomFilterMightContain`` in generated JVM code, so the answers are
    exactly ``BloomFilter.mightContainLong`` of the key. NULL in -> NULL
    out. Works on batch and streaming DataFrames alike.
    """
    probe = _might_contain_column(df.sparkSession, bloom_bytes, _as_long(df, col))
    return df.withColumn(out, probe)


def bloom_prefilter_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    fpp: float = 0.01,
    expected_items: int | None = None,
) -> DataFrame:
    """Equi-join with a Bloom pre-filter on the big side — the manual
    version of Catalyst's runtime bloom-filter pruning, usable where the
    optimizer can't inject it (e.g. the build side is a computed frame).

    The filter is a SUPERSET gate (no false negatives), so the subsequent
    exact join returns exactly the plain join's rows — approximate
    structure, exact result. At scale this trades a kilobyte broadcast
    for shuffling only rows that can match; with fpp=0.01 the shuffle
    carries ≤1% non-matching rows.

    Pass ``expected_items`` (an upper bound on the small side's distinct
    keys) to skip the sizing pass; otherwise a cheap ``count()`` (no
    distinct shuffle) upper-bounds it — over-sizing a Bloom filter only
    lowers its FPP.
    """
    if expected_items is None:
        expected_items = small.count()
    sketch_bytes = bloom_build(small, small_key, max(int(expected_items), 1), fpp)
    gated = bloom_might_contain(big, big_key, sketch_bytes, out="__bf")
    pruned = gated.filter(F.col("__bf")).drop("__bf")
    if big_key == small_key:
        # list-form equi-join: one unambiguous key column in the output
        return pruned.join(small, on=[big_key])
    return pruned.join(small, pruned[big_key] == small[small_key])
