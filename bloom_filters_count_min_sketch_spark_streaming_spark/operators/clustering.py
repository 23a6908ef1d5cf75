"""Distributed k-means (Lloyd's algorithm) over an embedding column.

The canonical distributed iterative algorithm, expressed Spark-first:

- **assignment** (the data-sized work) is an Arrow-batched pandas UDF —
  one ``argmin ||x - c||^2`` matmul per batch against the broadcast
  centroid matrix; embarrassingly parallel over partitions.
- **update** shuffles only ``k x dim`` partial sums: posexplode to
  (cluster, dim, value), partial-aggregated map-side, merged into k*dim
  rows. At 100 TB the shuffle payload stays k*dim*partitions — kilobytes.
- **driver** holds exactly the k x dim centroid matrix between
  iterations (collected each round and rebroadcast in the next plan) —
  never data-proportional.

Determinism (the engine's contract): seeded hash-min init (the k rows
with the smallest md5(id) — engine-portable, no RNG state), and all
float reductions go through ROUND -> DECIMAL sums so partition/summation
order cannot perturb centroids across runs. Euclidean-squared distances
are computed in float64 against identical centroid bytes on every
executor, so assignments are reproducible run-to-run.

No SQL oracle: the iteration is genuinely non-SQL-expressible (the
driver records a rows-only check); invariants are property-tested
instead (tests/test_clustering.py).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from bloom_filters_count_min_sketch_spark_streaming_spark.sources.io import input_bytes

# Per-dim rounding applied before the DECIMAL partial sums. 7 decimals is
# far below fixture noise but makes the sum independent of partition order.
_DIM_SCALE = 7
_DIST_SCALE = 6

# Target parquet bytes per assignment task. ~32 MB of parquet is ~100k
# 64-dim vectors — enough rows that one numpy matmul per Arrow batch
# dominates the task's fixed cost, small enough that the cached double
# arrays stay tens of MB per partition.
_ASSIGN_TARGET_BYTES = 32 << 20


def _adaptive_partitions(df: DataFrame) -> int:
    """Partition count for the CPU-heavy assignment stage, derived from
    input size (optimization guide §2: scale-adaptive, not a constant
    tuned for one deployment). A fixed ``defaultParallelism`` repartition
    meant 32 tasks of ~60 rows each at fixture scale — per-task and
    Arrow-batch overhead, not compute (r13 profile: every Lloyd
    iteration job ~600 ms at 32 partitions, ~130 ms at the derived
    count); at cluster scale the same constant would under-split. Falls
    back to defaultParallelism when input bytes are unknowable (non-file
    sources)."""
    total = input_bytes(df)
    if total > 0:
        return max(1, math.ceil(total / _ASSIGN_TARGET_BYTES))
    return df.sparkSession.sparkContext.defaultParallelism


def _init_centroids(df: DataFrame, id_col: str, vec_col: str, k: int) -> np.ndarray:
    """Deterministic seed centroids: the k rows with the smallest md5(id).

    A hash-min sample is a uniform-ish draw every engine/run reproduces —
    the same device sample_hashmin_per_group uses. TakeOrderedAndProject:
    no full sort, k rows to the driver.
    """
    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), id_col)
        .limit(k)
        .collect()
    )
    return np.array([list(r[1]) for r in rows], dtype=np.float64)


def _assign_udf(centroids: np.ndarray):
    c = centroids  # captured; shipped once per task via the serialized plan

    @F.pandas_udf(IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        x = np.stack(vecs.to_numpy()).astype(np.float64, copy=False)
        # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 ; argmin over clusters.
        d = (
            (x * x).sum(axis=1, keepdims=True)
            - 2.0 * (x @ c.T)
            + (c * c).sum(axis=1)[None, :]
        )
        return pd.Series(np.argmin(d, axis=1).astype(np.int32))

    return assign


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 5,
) -> tuple[np.ndarray, DataFrame]:
    """Run ``n_iter`` Lloyd iterations; return (centroids, assigned_df).

    assigned_df has (id_col, vec_col, cluster) with the final assignment.
    """
    data = df.select(
        F.col(id_col), F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v")
    )
    # Spread the CPU-heavy assignment stage; the count is derived from
    # input bytes (see _adaptive_partitions), and every downstream
    # reduction is a rounded-term decimal sum or deterministic argmin, so
    # the partitioning cannot perturb the result.
    data = data.repartition(_adaptive_partitions(df)).cache()
    centroids = _init_centroids(data, id_col, "v", k)
    dim = centroids.shape[1]
    for _ in range(n_iter):
        assigned = data.withColumn("cluster", _assign_udf(centroids)(F.col("v")))
        # Update step: k*dim decimal partial sums, order-independent.
        sums = (
            assigned.select("cluster", F.posexplode("v").alias("dim", "val"))
            .groupBy("cluster", "dim")
            .agg(
                F.sum(F.round(F.col("val"), _DIM_SCALE).cast("decimal(28,10)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new_c = centroids.copy()  # empty clusters keep their previous center
        acc = np.zeros((k, dim), dtype=np.float64)
        cnt = np.zeros(k, dtype=np.int64)
        for r in sums:
            acc[r["cluster"], r["dim"]] = float(r["s"])
            cnt[r["cluster"]] = r["n"]
        nonempty = cnt > 0
        new_c[nonempty] = acc[nonempty] / cnt[nonempty, None]
        centroids = new_c
    assigned = data.withColumn("cluster", _assign_udf(centroids)(F.col("v"))).select(
        F.col(id_col), F.col("v").alias(vec_col), "cluster"
    )
    return centroids, assigned


def _assign_dist2_udf(centroids: np.ndarray):
    """Fused assignment + squared-distance UDF: one Arrow crossing of the
    vector column instead of two stacked ArrowEvalPython nodes (assign,
    then dist2 re-shipping the same vectors). The argmin uses the exact
    expanded-form arithmetic of ``_assign_udf`` and the distance the
    exact ``x - c[assigned]`` einsum of the old ``dist2`` — bit-identical
    outputs, half the JVM<->Python traffic (guide §4)."""
    c = centroids

    @F.pandas_udf("cluster int, d2 double")
    def assign_d2(vecs: pd.Series) -> pd.DataFrame:
        x = np.stack(vecs.to_numpy()).astype(np.float64, copy=False)
        d = (
            (x * x).sum(axis=1, keepdims=True)
            - 2.0 * (x @ c.T)
            + (c * c).sum(axis=1)[None, :]
        )
        a = np.argmin(d, axis=1)
        diff = x - c[a]
        return pd.DataFrame(
            {
                "cluster": a.astype(np.int32),
                "d2": np.einsum("ij,ij->i", diff, diff),
            }
        )

    return assign_d2


def kmeans_cluster_profile(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 5,
) -> DataFrame:
    """Cluster sizes + within-cluster inertia after ``n_iter`` iterations.

    Output: (cluster, n_points, inertia) — inertia is the sum of
    per-point squared distances, each rounded before a DECIMAL sum so the
    total is summation-order-independent (deterministic run to run).
    """
    centroids, assigned = kmeans_fit(df, id_col, vec_col, k, n_iter)

    return (
        assigned.select(
            _assign_dist2_udf(centroids)(F.col(vec_col)).alias("ad")
        )
        .select(F.col("ad.cluster").alias("cluster"), F.col("ad.d2").alias("d2"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            (
                F.sum(F.round(F.col("d2"), _DIST_SCALE).cast("decimal(28,8)"))
                .cast("double")
            ).alias("inertia"),
        )
        .select(F.col("cluster").cast("int").alias("cluster"), "n_points", F.round("inertia", 4).alias("inertia"))
    )


# ---------------------------------------------------------------------------
# Lightweight coreset k-means (Bachem, Lucic, Krause, KDD 2018): the 100 TB
# clustering story. ONE distributed pass computes q(x) = 1/(2n) +
# d(x, mean)^2 / (2 * sum d^2) and Poisson-samples x with probability
# min(1, m*q(x)) (deterministic md5 uniform), weight 1/(m*q(x)) — an
# unbiased, provably (eps, k)-competent summary of EXPECTED size <= m. The
# weighted k-means then runs on m rows wherever convenient; the big data is
# touched exactly twice (coreset build + final audit pass).


def lightweight_coreset(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 128,
) -> DataFrame:
    """Build the lightweight coreset: returns (id, v, q, w) rows whose
    EXPECTED count is <= m. Deterministic: the inclusion draw is the
    md5(id) 48-bit uniform, the mean and d^2 total travel as rounded-term
    decimal sums, so every engine/run selects the same rows with the same
    weights."""
    data = df.select(
        F.col(id_col).alias("cid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    # dataset mean: k*dim-free — one grouped decimal pass over dims
    mean_rows = (
        data.select(F.posexplode("v").alias("dim", "val"))
        .groupBy("dim")
        .agg(
            F.sum(F.round(F.col("val"), _DIM_SCALE).cast("decimal(28,10)"))
            .cast("double")
            .alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    dim = len(mean_rows)
    mu = np.zeros(dim, dtype=np.float64)
    n_rows = int(mean_rows[0]["n"])
    for r in mean_rows:
        mu[r["dim"]] = float(r["s"]) / r["n"]
    mu_c = mu

    @F.pandas_udf("double")
    def d2_mean(vecs: pd.Series) -> pd.Series:
        x = np.stack(vecs.to_numpy()).astype(np.float64, copy=False)
        d = x - mu_c[None, :]
        return pd.Series(np.round(np.einsum("ij,ij->i", d, d), _DIST_SCALE))

    with_d2 = data.withColumn("d2", d2_mean(F.col("v")))
    tot = with_d2.agg(
        F.sum(F.col("d2").cast("decimal(28,8)")).cast("double").alias("t")
    )
    u = (
        F.conv(F.substring(F.md5(F.col("cid").cast("string")), 1, 12), 16, 10)
        .cast("double")
        / F.lit(float(1 << 48))
    )
    return (
        with_d2.crossJoin(F.broadcast(tot))
        .select(
            "cid",
            "v",
            (
                F.lit(0.5) / F.lit(float(n_rows))
                + F.col("d2") / (F.lit(2.0) * F.col("t"))
            ).alias("q"),
            u.alias("u"),
        )
        .filter(F.col("u") < F.lit(float(m)) * F.col("q"))
        .select(
            "cid",
            "v",
            "q",
            # Horvitz-Thompson weight: inclusion probability is
            # min(1, m*q), so the unbiased weight is its reciprocal —
            # points with m*q >= 1 are included surely with weight
            # EXACTLY 1 (this is what makes the full-inclusion witness
            # kmeans_coreset_full_exact reduce to plain Lloyd).
            (
                F.lit(1.0)
                / F.least(F.lit(1.0), F.lit(float(m)) * F.col("q"))
            ).alias("w"),
        )
    )


def coreset_kmeans_profile(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    m: int = 128,
    n_iter: int = 10,
) -> DataFrame:
    """Cluster the coreset, audit against the full data: weighted Lloyd
    runs on the <= m collected coreset rows (the documented bound — the
    whole point is that this part no longer scales with the data), then
    ONE distributed pass assigns every full-data row to the coreset
    centroids. Output per cluster: full-data size and inertia next to the
    coreset's weighted size and weighted inertia — the coreset guarantee
    is that the weighted columns estimate the full ones."""
    core = lightweight_coreset(df, id_col, vec_col, m).collect()  # <= ~m rows
    # Sort by id: the driver-side float sums below then run in an order
    # independent of how many partitions the collect drained.
    core = sorted(core, key=lambda r: r["cid"])
    ids = [r["cid"] for r in core]
    X = np.array([list(r["v"]) for r in core], dtype=np.float64)
    W = np.array([float(r["w"]) for r in core], dtype=np.float64)
    # hash-min init over the CORESET ids (same rule as the full trainer)
    import hashlib

    order = sorted(range(len(ids)), key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]))
    C = X[order[:k]].copy()
    for _ in range(n_iter):
        d = (
            (X * X).sum(axis=1, keepdims=True)
            - 2.0 * (X @ C.T)
            + (C * C).sum(axis=1)[None, :]
        )
        a = np.argmin(d, axis=1)
        for j in range(k):
            sel = a == j
            if sel.any():
                C[j] = (X[sel] * W[sel, None]).sum(axis=0) / W[sel].sum()
    # coreset-side weighted profile
    d = (
        (X * X).sum(axis=1, keepdims=True)
        - 2.0 * (X @ C.T)
        + (C * C).sum(axis=1)[None, :]
    )
    a = np.argmin(d, axis=1)
    w_size = np.zeros(k)
    w_inertia = np.zeros(k)
    for j in range(k):
        sel = a == j
        w_size[j] = W[sel].sum()
        w_inertia[j] = (W[sel] * np.round(d[sel, j], _DIST_SCALE)).sum()

    data = df.select(
        F.col(id_col).alias("cid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    full = (
        data.select(_assign_dist2_udf(C)(F.col("v")).alias("ad"))
        .select(F.col("ad.cluster").alias("cluster"), F.col("ad.d2").alias("d2"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_full"),
            F.sum(F.round(F.col("d2"), _DIST_SCALE).cast("decimal(28,8)"))
            .cast("double")
            .alias("full_inertia"),
        )
    )
    spark = df.sparkSession
    cs = spark.createDataFrame(
        [
            (int(j), float(round(w_size[j], 4)), float(round(w_inertia[j], 4)))
            for j in range(k)
        ],
        "cluster int, coreset_weight double, coreset_inertia double",
    )
    return (
        full.join(cs, "cluster")
        .select(
            F.col("cluster").cast("int").alias("cluster"),
            "n_full",
            F.round("full_inertia", 4).alias("full_inertia"),
            "coreset_weight",
            "coreset_inertia",
        )
        .orderBy("cluster")
    )


