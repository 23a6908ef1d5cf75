"""Count-Min Sketch operators (reference core surface A3-A5, A11).

Capability parity target: the reference maintains a Count-Min Sketch over a
stream and answers approximate per-item frequency queries — overestimate
bounded by eps*N with probability >= confidence (Cormode & Muthukrishnan,
J. Algorithms 2005).

Spark-first design:

- **build** — the built-in Catalyst aggregate ``count_min_sketch(col, eps,
  confidence, seed)``. It is a TypedImperativeAggregate, so partial sketches
  are built executor-side and merged through the normal partial->final
  aggregation path: zero custom shuffle code, works unchanged on 1000
  executors. Result is one binary value (the serialized sketch).
- **point query / batch estimate** — the serialized sketch is parsed in
  Python (depth x width counter table + the hashA multipliers Spark
  serializes alongside) and evaluated vectorized in numpy, mirroring
  CountMinSketchImpl.hash: ``h = ((a*x + ((a*x) >> 32)) & MAX_INT) % width``.
  Non-long columns are normalized with JVM-side ``xxhash64`` before both
  build and probe (same normalization as functions/bloom.py).
- **merge** — CMS of same (depth, width, seed) is a commutative monoid;
  JVM ``mergeInPlace`` via py4j for driver-side merging of per-batch
  sketches (the streaming path), numpy ``+`` for parsed tables.

The exact-vs-approx report (A11) is the reference's headline output: join
exact ``groupBy().count()`` with sketch estimates and report the error.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from bloom_filters_count_min_sketch_spark_streaming_spark.functions.hashing import (
    as_long_key as _as_long,
)


@dataclass(frozen=True)
class CountMinSketchTable:
    """Parsed org.apache.spark.util.sketch.CountMinSketchImpl (V1 layout:
    int32 version, int64 totalCount, int32 depth, int32 width,
    int64 hashA[depth], int64 table[depth][width]; big-endian)."""

    total_count: int
    depth: int
    width: int
    hash_a: np.ndarray  # int64[depth]
    table: np.ndarray  # int64[depth, width]

    @classmethod
    def from_bytes(cls, data: bytes) -> "CountMinSketchTable":
        version = int.from_bytes(data[0:4], "big", signed=True)
        if version != 1:
            raise ValueError(f"unsupported CountMinSketch serialization version {version}")
        total = int.from_bytes(data[4:12], "big", signed=True)
        depth = int.from_bytes(data[12:16], "big", signed=True)
        width = int.from_bytes(data[16:20], "big", signed=True)
        off = 20
        hash_a = np.frombuffer(data[off : off + 8 * depth], dtype=">i8").astype(np.int64)
        off += 8 * depth
        table = (
            np.frombuffer(data[off : off + 8 * depth * width], dtype=">i8")
            .astype(np.int64)
            .reshape(depth, width)
        )
        return cls(total_count=total, depth=depth, width=width, hash_a=hash_a, table=table)

    def estimate_longs(self, values: np.ndarray) -> np.ndarray:
        """Vectorized estimateCountForLongItem for an int64 array."""
        v = values.astype(np.int64, copy=False)
        est = np.full(len(v), np.iinfo(np.int64).max, dtype=np.int64)
        with np.errstate(over="ignore"):
            for i in range(self.depth):
                prod = self.hash_a[i] * v  # wraps like Java long
                h = (prod + (prod >> np.int64(32))) & np.int64(0x7FFFFFFF)
                buckets = (h.astype(np.int32) % np.int32(self.width)).astype(np.int64)
                est = np.minimum(est, self.table[i, buckets])
        return est

    def merge(self, other: "CountMinSketchTable") -> "CountMinSketchTable":
        if (self.depth, self.width) != (other.depth, other.width) or not np.array_equal(
            self.hash_a, other.hash_a
        ):
            raise ValueError("incompatible CMS: depth/width/seed differ")
        return CountMinSketchTable(
            total_count=self.total_count + other.total_count,
            depth=self.depth,
            width=self.width,
            hash_a=self.hash_a,
            table=self.table + other.table,
        )

    def inner_product(self, other: "CountMinSketchTable") -> int:
        """Join-size estimate: min over rows of the per-row dot product
        (Cormode & Muthukrishnan 2005, §4.2). For sketches of two key
        multisets A and B with identical (depth, width, seed), estimates
        |A join B| = sum_k f_A(k) * f_B(k); always an overestimate, within
        eps * |A| * |B| of exact with probability >= the sketch confidence.
        """
        if (self.depth, self.width) != (other.depth, other.width) or not np.array_equal(
            self.hash_a, other.hash_a
        ):
            raise ValueError("incompatible CMS: depth/width/seed differ")
        # object dtype: the dot of two count rows can exceed int64 at large
        # N (cell counts ~N, products ~N^2); Python ints are exact
        per_row = (self.table.astype(object) * other.table.astype(object)).sum(axis=1)
        return int(per_row.min())


# NumpyCMS.to_bytes counter widths (bytes per counter -> stored dtype)
_CMS_COUNTER_DTYPES = {2: np.uint16, 4: np.uint32, 8: np.int64}


@dataclass
class NumpyCMS:
    """Self-contained numpy Count-Min Sketch for *engine-internal* state
    (streaming per-key state, pandas-side builds). Same hash structure as
    the JVM sketch (h = ((a*x + ((a*x)>>32)) & MAX_INT) % w) but with its
    own deterministic hashA derivation — state never needs to interop with
    JVM-serialized sketches, it only needs to be a mergeable monoid.
    """

    depth: int
    width: int
    hash_a: np.ndarray  # int64[depth]
    table: np.ndarray  # int64[depth, width]
    total: int = 0

    @classmethod
    def from_params(cls, eps: float = 0.0001, confidence: float = 0.999, seed: int = 42) -> "NumpyCMS":
        import math

        width = int(math.ceil(2.0 / eps))
        depth = int(math.ceil(math.log(1.0 / (1.0 - confidence)) / math.log(2.0)))
        rng = np.random.default_rng(seed)
        hash_a = rng.integers(1, 2**62, size=depth, dtype=np.int64) | np.int64(1)
        return cls(depth=depth, width=width, hash_a=hash_a,
                   table=np.zeros((depth, width), dtype=np.int64))

    def _buckets(self, v: np.ndarray) -> np.ndarray:
        with np.errstate(over="ignore"):
            prod = self.hash_a[:, None] * v[None, :]
            h = (prod + (prod >> np.int64(32))) & np.int64(0x7FFFFFFF)
            return (h.astype(np.int32) % np.int32(self.width)).astype(np.int64)

    def add_longs(self, values: np.ndarray) -> None:
        b = self._buckets(values.astype(np.int64, copy=False))
        for i in range(self.depth):
            np.add.at(self.table[i], b[i], 1)
        self.total += len(values)

    def estimate_longs(self, values: np.ndarray) -> np.ndarray:
        b = self._buckets(values.astype(np.int64, copy=False))
        return np.min(
            np.stack([self.table[i, b[i]] for i in range(self.depth)]), axis=0
        )

    def add_longs_conservative(self, values: np.ndarray) -> None:
        """Conservative update (Estan & Varghese 2002): per item, raise only
        counters below (current-min + 1) — counters grow no faster than the
        item's own estimate, so CU estimates sit between the truth and the
        standard-CMS estimate while keeping the no-underestimate guarantee.

        Inherently sequential per item (each update reads the row minima),
        so the distributed build runs CU *within* each partition and merges
        partial tables by ADDITION: each partition's CU table is
        elementwise <= its standard table, and min_j sum_p t_p[j] >=
        sum_p min_j t_p[j] >= sum_p true_p = true — the merged sketch still
        never underestimates (property-tested)."""
        v = values.astype(np.int64, copy=False)
        b = self._buckets(v)
        rows = np.arange(self.depth)
        for k in range(v.shape[0]):
            cur = self.table[rows, b[:, k]]
            new = cur.min() + 1
            np.maximum(cur, new, out=cur)
            self.table[rows, b[:, k]] = cur
        self.total += len(v)

    def to_bytes(self) -> bytes:
        """Header (depth, width, total, counter width in bytes), hashA, then
        the table in the narrowest of uint16 / uint32 / int64 that holds
        every counter — a sketch over a few thousand items stores a quarter
        of the int64 bytes. Negative counters (possible only from direct
        table edits) stay int64. from_bytes widens back to int64, so all
        arithmetic is unchanged."""
        import struct

        dtype = np.dtype(np.int64)
        if self.table.min() >= 0:
            top = self.table.max()
            dtype = next(
                (np.dtype(d) for d in (np.uint16, np.uint32) if top <= np.iinfo(d).max), dtype
            )
        head = struct.pack(">iiqB", self.depth, self.width, self.total, dtype.itemsize)
        return head + self.hash_a.tobytes() + self.table.astype(dtype, copy=False).tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "NumpyCMS":
        import struct

        depth, width, total, itemsize = struct.unpack(">iiqB", data[:17])
        dtype = _CMS_COUNTER_DTYPES[itemsize]
        off = 17
        hash_a = np.frombuffer(data, dtype=np.int64, count=depth, offset=off).copy()
        off += 8 * depth
        table = (
            np.frombuffer(data, dtype=dtype, count=depth * width, offset=off)
            .astype(np.int64)
            .reshape(depth, width)
        )
        return cls(depth=depth, width=width, hash_a=hash_a, table=table, total=total)

    def __reduce__(self):
        # pickle through the narrow codec, not the int64 table
        return type(self).from_bytes, (self.to_bytes(),)

    def merge(self, other: "NumpyCMS") -> "NumpyCMS":
        if (self.depth, self.width) != (other.depth, other.width) or not np.array_equal(
            self.hash_a, other.hash_a
        ):
            raise ValueError("incompatible NumpyCMS")
        return NumpyCMS(
            depth=self.depth, width=self.width, hash_a=self.hash_a,
            table=self.table + other.table, total=self.total + other.total,
        )


def cms_agg(df: DataFrame, col: str, eps: float, confidence: float, seed: int) -> Column:
    """The count_min_sketch aggregate column (binary) over a normalized key."""
    return F.count_min_sketch(
        _as_long(df, col), F.lit(float(eps)), F.lit(float(confidence)), F.lit(int(seed))
    )


def cms_build(df: DataFrame, col: str, eps: float = 0.0001, confidence: float = 0.99, seed: int = 42) -> bytes:
    """Build a CMS over df[col] distributively; return serialized bytes."""
    row = df.agg(cms_agg(df, col, eps, confidence, seed).alias("sk")).head()
    return bytes(row["sk"])


def cms_build_numpy(
    df: DataFrame,
    col: str,
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 42,
    conservative: bool = False,
) -> "NumpyCMS":
    """Distributed NumpyCMS build: per-Arrow-batch sketches (standard or
    conservative-update) merged by addition on the driver — kilobytes per
    batch cross the wire, never rows. The CU bound survives addition-merge
    (see ``add_longs_conservative``); batch granularity only affects how
    tight the CU improvement is, never the >= truth guarantee."""
    keyed = df.select(_as_long(df, col).alias("k")).filter(F.col("k").isNotNull())

    # no type hints on the inner fn: explicit schema + `from __future__
    # import annotations` breaks pandas-function hint inference (CLAUDE.md)
    def build(batches):
        for pdf in batches:
            sk = NumpyCMS.from_params(eps, confidence, seed)
            vals = pdf["k"].to_numpy(dtype=np.int64)
            if conservative:
                sk.add_longs_conservative(vals)
            else:
                sk.add_longs(vals)
            yield pd.DataFrame({"sk": [sk.to_bytes()]})

    parts = keyed.mapInPandas(build, "sk binary").collect()
    merged = NumpyCMS.from_params(eps, confidence, seed)
    for r in parts:
        merged = merged.merge(NumpyCMS.from_bytes(bytes(r["sk"])))
    return merged


def cms_estimate(df: DataFrame, col: str, cms_bytes: bytes, out: str = "cms_estimate") -> DataFrame:
    """Add a per-row approximate frequency column (batch point query)."""
    sketch = CountMinSketchTable.from_bytes(cms_bytes)

    @F.pandas_udf(LongType())
    def _probe(keys: pd.Series) -> pd.Series:
        mask = keys.isna().to_numpy()
        values = keys.to_numpy(dtype=np.int64, na_value=0)
        result = pd.Series(sketch.estimate_longs(values), dtype="object")
        result[mask] = None  # NULL key -> NULL estimate
        return result

    return df.withColumn(out, _probe(_as_long(df, col)))


def cms_estimate_from_table(
    df: DataFrame, col: str, table: CountMinSketchTable, out: str = "cms_est"
) -> DataFrame:
    """Point-query a parsed (possibly merged) CMS table for each row of df
    (the probe path for driver-merged streaming sketches)."""

    @F.pandas_udf(LongType())
    def _probe(keys: pd.Series) -> pd.Series:
        mask = keys.isna().to_numpy()
        values = keys.to_numpy(dtype=np.int64, na_value=0)
        result = pd.Series(table.estimate_longs(values), dtype="object")
        result[mask] = None  # NULL key -> NULL estimate
        return result

    return df.withColumn(out, _probe(_as_long(df, col)))


def exact_vs_approx(
    df: DataFrame,
    col: str,
    eps: float = 0.0001,
    confidence: float = 0.99,
    seed: int = 42,
) -> DataFrame:
    """The reference's headline report: exact count vs CMS estimate per item.

    Two passes over the data (one exact agg, one sketch agg), then a
    broadcast-joined comparison of the (small) distinct-key table against
    the sketch — the sketch is kilobytes, so the probe is a pandas UDF over
    the aggregated keys, not over raw rows.
    """
    cms_bytes = cms_build(df, col, eps, confidence, seed)
    exact = df.groupBy(col).agg(F.count(F.lit(1)).alias("exact_cnt"))
    est = cms_estimate(exact, col, cms_bytes, out="cms_est")
    return est.withColumn("abs_err", F.col("cms_est") - F.col("exact_cnt"))


# ---------------------------------------------------------------------------
# Dyadic range queries (Cormode & Muthukrishnan 2005, §4.3)


def dyadic_decompose(lo: int, hi: int, levels: int) -> list[tuple[int, int]]:
    """Minimal dyadic cover of the inclusive integer range [lo, hi]:
    a list of (level, prefix) pairs where level-j node `p` covers
    [p * 2^j, (p+1) * 2^j - 1]. At most 2*levels intervals (CM 2005
    §4.3), so a range count touches O(log U) sketch cells."""
    if lo < 0 or hi < lo:
        raise ValueError(f"bad range [{lo}, {hi}]")
    out: list[tuple[int, int]] = []
    while lo <= hi:
        j = 0
        while (
            j + 1 < levels
            and lo % (1 << (j + 1)) == 0
            and lo + (1 << (j + 1)) - 1 <= hi
        ):
            j += 1
        out.append((j, lo >> j))
        lo += 1 << j
    return out


def cms_build_dyadic(
    df: DataFrame,
    col: str,
    levels: int,
    eps: float = 0.0001,
    confidence: float = 0.99,
    seed: int = 42,
) -> list[CountMinSketchTable]:
    """Build the dyadic sketch hierarchy in ONE distributed pass: level j
    sketches the keys (v >> j), all `levels` aggregates evaluated in the
    same partial->final aggregation (one scan, `levels` kilobyte-sized
    results on the driver). df[col] must already be a non-negative long."""
    aggs = [
        F.count_min_sketch(
            F.shiftright(F.col(col), j).cast("long"),
            F.lit(float(eps)),
            F.lit(float(confidence)),
            F.lit(int(seed) + j),
        ).alias(f"l{j}")
        for j in range(levels)
    ]
    row = df.agg(*aggs).head()
    return [CountMinSketchTable.from_bytes(bytes(row[f"l{j}"])) for j in range(levels)]


def cms_range_estimate(
    sketches: list[CountMinSketchTable], lo: int, hi: int
) -> int:
    """Approximate count of values in [lo, hi]: sum of point queries on the
    dyadic cover — each an overestimate, so the total overestimates by at
    most 2*levels*eps*N with the sketch confidence."""
    return int(
        sum(
            int(sketches[j].estimate_longs(np.array([p], dtype=np.int64))[0])
            for j, p in dyadic_decompose(lo, hi, len(sketches))
        )
    )
