"""Approximate-aggregate operators beyond Bloom/CMS (SURVEY §2.A A6-A12).

All of these are built-in Catalyst TypedImperativeAggregates, i.e. mergeable
partial aggregates: partial sketches are computed map-side and merged through
the shuffle, so each one runs unchanged from local[32] to a 1000-executor
cluster. We only add the missing Python plumbing:

- ``approx_top_k`` has no Python wrapper in PySpark 4.1 → exposed via
  ``F.expr`` and exploded into (item, est_count) rows.
- HLL sketches: ``hll_sketch_agg`` → binary, ``hll_union`` to merge,
  ``hll_sketch_estimate`` to read — sketches are first-class binary values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def approx_top_k(df: DataFrame, col: str, k: int) -> DataFrame:
    """Approximate top-k heavy hitters: (item, est_count), highest first.

    Deterministic tie-break on the item value so results hash stably.
    """
    agg = df.agg(F.expr(f"approx_top_k({col}, {int(k)})").alias("topk"))
    return (
        agg.select(F.explode("topk").alias("e"))
        .select(F.col("e.item").alias("item"), F.col("e.count").alias("est_count"))
        .orderBy(F.desc("est_count"), F.asc("item"))
    )


def exact_top_k(df: DataFrame, col: str, k: int) -> DataFrame:
    """Exact heavy hitters twin (the correctness oracle for approx_top_k).

    Plans as partial-agg -> shuffle by key -> final-agg -> TakeOrdered;
    no full sort at any scale.
    """
    return (
        df.groupBy(F.col(col).alias("item"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("item"))
        .limit(k)
    )


def approx_distinct(df: DataFrame, col: str, rsd: float = 0.05) -> DataFrame:
    """HyperLogLog++ approximate count-distinct."""
    return df.agg(F.approx_count_distinct(col, rsd).alias("approx_distinct"))


def hll_estimate(df: DataFrame, col: str) -> DataFrame:
    """Estimate distinct count by building + reading an HLL sketch."""
    return df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg(col)).alias("hll_estimate")
    )


def approx_quantiles(df: DataFrame, col: str, probabilities: list[float], relative_error: float = 0.0) -> list[float]:
    """Greenwald-Khanna approximate quantiles (exact when relative_error=0)."""
    return df.stat.approxQuantile(col, list(probabilities), relative_error)


def freq_items(df: DataFrame, cols: list[str], support: float = 0.01) -> DataFrame:
    """Misra-Gries-style frequent items per column."""
    return df.stat.freqItems(cols, support)


def histogram(df: DataFrame, col: str, n_bins: int) -> DataFrame:
    """Numeric histogram aggregate: (bin_center x, height y) structs."""
    agg = df.agg(F.histogram_numeric(F.col(col), F.lit(int(n_bins))).alias("bins"))
    return agg.select(F.explode("bins").alias("b")).select(
        F.col("b.x").alias("bin_x"), F.col("b.y").alias("bin_y")
    )


# --- KMV (k-minimum-values / bottom-k) distinct sketch -----------------------
#
# The one distinct-count sketch in the repo whose ESTIMATE is engine-portable:
# the hash is md5 (identical everywhere), so the k-th smallest hash fraction —
# and therefore the estimate (k-1)/h_k (Bar-Yossef et al. 2002; Beyer et al.
# SIGMOD 2007) — is a deterministic value both Spark and an ANSI-SQL oracle
# compute bit-for-bit. That makes KMV queries fully hash-checkable, unlike
# HLL (JVM-internal hashing, oracle can only mirror the exact twin).
#
# Scale shape: bottom-k by hash is `ORDER BY frac LIMIT k` — Spark plans a
# TakeOrderedAndProject (per-partition top-k, k-row merge at the driver-side
# reduce), i.e. one pass, no full sort, no full shuffle. Per-group bottom-k is
# a row_number window over the group key: one hash-shuffle on the group key,
# k rows kept per group. The sketch is mergeable by construction (union of
# bottom-k sets, re-truncated to k), which is what the set-algebra query does.

KMV_DENOM = float(1 << 48)  # 48-bit hash prefix -> fraction in (0, 1]


def kmv_fraction(col) -> F.Column:
    """Engine-portable uniform hash fraction: first 12 hex chars of md5 (48
    bits), +1 to avoid exactly 0, over 2^48. Every arithmetic step (int ->
    double, one division) is exact/identical IEEE in Spark and DuckDB:
    DuckDB twin ``(('0x' || substr(md5(x), 1, 12))::BIGINT + 1) / 2^48``."""
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 12), 16, 10).cast("long")
    return (h + F.lit(1)).cast("double") / F.lit(KMV_DENOM)


def kmv_estimate_from_kth(kth_frac: F.Column, k: int) -> F.Column:
    """Unbiased KMV estimator from the k-th smallest fraction: (k-1)/h_k."""
    return F.lit(float(k - 1)) / kth_frac
