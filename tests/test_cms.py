"""Count-Min Sketch property tests (SURVEY §5.2.3): one-sided error,
eps*N bound, merge homomorphism, JVM parity."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from bloom_filters_count_min_sketch_spark_streaming_spark.functions.cms import (
    CountMinSketchTable,
    cms_build,
    cms_estimate,
)


def cms_point_query_jvm(spark, cms_bytes: bytes, item: int) -> int:
    """Point query through the JVM's own CountMinSketch (the parity reference)."""
    jvm = spark._jvm  # noqa: SLF001
    sk = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(bytearray(cms_bytes))
    )
    return int(sk.estimateCount(item))


def _zipf_df(spark, n=50_000, keys=500):
    # key = floor(n/(id+1)) style skew: heavy head, long tail
    return spark.range(0, n).select(
        (F.floor(F.lit(keys) / (F.rand(seed=11) * F.lit(keys) + F.lit(1)))).cast("long").alias("k")
    )


def test_cms_matches_jvm(spark):
    df = _zipf_df(spark)
    bb = cms_build(df, "k", eps=0.01, confidence=0.9, seed=7)
    t = CountMinSketchTable.from_bytes(bb)
    vals = np.arange(0, 600, dtype=np.int64)
    py = t.estimate_longs(vals)
    jv = np.array([cms_point_query_jvm(spark, bb, int(v)) for v in vals])
    assert np.array_equal(py, jv)


def test_cms_error_bounds(spark):
    eps, conf = 0.005, 0.9
    df = _zipf_df(spark)
    bb = cms_build(df, "k", eps=eps, confidence=conf, seed=3)
    t = CountMinSketchTable.from_bytes(bb)
    exact = {r["k"]: r["cnt"] for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    keys = np.array(sorted(exact), dtype=np.int64)
    est = t.estimate_longs(keys)
    true = np.array([exact[k] for k in keys])
    assert (est >= true).all(), "CMS must never underestimate"
    n_total = t.total_count
    within = (est - true <= eps * n_total).mean()
    assert within >= conf, f"only {within:.3f} of keys within eps*N"


def test_cms_merge_homomorphism(spark):
    a = spark.range(0, 10_000).select((F.col("id") % 100).alias("k"))
    b = spark.range(0, 10_000).select((F.col("id") % 37).alias("k"))
    union = a.union(b)
    kw = dict(eps=0.001, confidence=0.95, seed=42)
    ta = CountMinSketchTable.from_bytes(cms_build(a, "k", **kw))
    tb = CountMinSketchTable.from_bytes(cms_build(b, "k", **kw))
    tu = CountMinSketchTable.from_bytes(cms_build(union, "k", **kw))
    merged = ta.merge(tb)
    assert merged.total_count == tu.total_count
    assert np.array_equal(merged.table, tu.table), "merge(sketch(A), sketch(B)) != sketch(A u B)"


def test_cms_estimate_dataframe_path(spark, sf_dir):
    from bloom_filters_count_min_sketch_spark_streaming_spark.sources.io import load

    ev = load(spark, sf_dir, "events")
    bb = cms_build(ev, "event_type", eps=0.0001, confidence=0.999, seed=42)
    est = cms_estimate(ev.select("event_type").distinct(), "event_type", bb)
    exact = {
        r["event_type"]: r["cnt"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    for row in est.collect():
        assert row["cms_estimate"] == exact[row["event_type"]]


def test_cms_inner_product_join_size_bound(spark):
    """CM-2005 §4.2: exact <= inner_product(sk_A, sk_B) <= exact + eps*|A|*|B|.

    Zipf-skewed key multisets in the genuinely-approximate regime (width 2000
    << collisions-free), fixed seeds -> deterministic."""
    rng = np.random.default_rng(11)
    a_keys = rng.zipf(1.5, size=20_000) % 5_000
    b_keys = rng.zipf(1.3, size=10_000) % 5_000
    a = spark.createDataFrame([(int(k),) for k in a_keys], "k bigint")
    b = spark.createDataFrame([(int(k),) for k in b_keys], "k bigint")
    kw = dict(eps=0.001, confidence=0.999, seed=42)
    ta = CountMinSketchTable.from_bytes(cms_build(a, "k", **kw))
    tb = CountMinSketchTable.from_bytes(cms_build(b, "k", **kw))
    est = ta.inner_product(tb)

    ca = np.bincount(a_keys)
    cb = np.bincount(b_keys)
    n = min(len(ca), len(cb))
    exact = int((ca[:n].astype(object) * cb[:n].astype(object)).sum())
    assert est >= exact, "inner product must overestimate"
    assert est <= exact + 0.001 * len(a_keys) * len(b_keys), "CM eps bound violated"


def test_cms_inner_product_incompatible_raises(spark):
    a = spark.range(0, 100).select(F.col("id").alias("k"))
    ta = CountMinSketchTable.from_bytes(cms_build(a, "k", eps=0.01, confidence=0.9, seed=1))
    tb = CountMinSketchTable.from_bytes(cms_build(a, "k", eps=0.01, confidence=0.9, seed=2))
    import pytest

    with pytest.raises(ValueError):
        ta.inner_product(tb)


def test_cms_conservative_update_bounds():
    """CU estimates: exact <= est_cu <= est_std on zipf-skewed data."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.functions.cms import NumpyCMS

    rng = np.random.default_rng(11)
    keys = rng.zipf(1.3, size=20000).astype(np.int64) % 500
    std = NumpyCMS.from_params(eps=0.04, confidence=0.875, seed=7)
    cu = NumpyCMS.from_params(eps=0.04, confidence=0.875, seed=7)
    std.add_longs(keys)
    cu.add_longs_conservative(keys)
    probe = np.arange(500, dtype=np.int64)
    exact = np.bincount(keys, minlength=500)
    e_std = std.estimate_longs(probe)
    e_cu = cu.estimate_longs(probe)
    assert (e_cu >= exact).all(), "CU must never underestimate"
    assert (e_cu <= e_std).all(), "CU must be at most the standard estimate"
    # the narrow sketch forces collisions, so CU must actually tighten
    assert e_cu.sum() < e_std.sum(), "CU should strictly tighten somewhere"


def test_cms_conservative_merge_preserves_bound():
    """Addition-merge of per-partition CU sketches keeps est >= truth."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.functions.cms import NumpyCMS

    rng = np.random.default_rng(13)
    keys = rng.zipf(1.5, size=10000).astype(np.int64) % 200
    halves = [keys[:5000], keys[5000:]]
    parts = []
    for h in halves:
        sk = NumpyCMS.from_params(eps=0.05, confidence=0.875, seed=3)
        sk.add_longs_conservative(h)
        parts.append(sk)
    merged = parts[0].merge(parts[1])
    probe = np.arange(200, dtype=np.int64)
    exact = np.bincount(keys, minlength=200)
    assert (merged.estimate_longs(probe) >= exact).all()


def test_cms_build_numpy_distributed_matches_local(spark):
    """Standard-mode distributed build == one local sketch (addition is
    order-independent); CU mode still respects both bounds."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.functions.cms import (
        NumpyCMS,
        cms_build_numpy,
    )

    keys = [int(x) for x in np.random.default_rng(5).integers(0, 50, 3000)]
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    dist = cms_build_numpy(df, "k", eps=0.05, confidence=0.875, seed=9)
    local = NumpyCMS.from_params(eps=0.05, confidence=0.875, seed=9)
    local.add_longs(np.array(keys, dtype=np.int64))
    probe = np.arange(50, dtype=np.int64)
    assert (dist.estimate_longs(probe) == local.estimate_longs(probe)).all()

    cu = cms_build_numpy(df, "k", eps=0.05, confidence=0.875, seed=9, conservative=True)
    exact = np.bincount(np.array(keys), minlength=50)
    assert (cu.estimate_longs(probe) >= exact).all()
    assert (cu.estimate_longs(probe) <= dist.estimate_longs(probe)).all()
