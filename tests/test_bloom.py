"""Bloom filter property tests (SURVEY §5.2.3): zero false negatives,
bounded false-positive rate, JVM bit-parity of the numpy probe, and parity
of the Catalyst probe with the driver-side sketch."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bloom_filters_count_min_sketch_spark_streaming_spark.functions.bloom import (
    BloomFilterSketch,
    bloom_build,
    bloom_might_contain,
)
from bloom_filters_count_min_sketch_spark_streaming_spark.functions.hashing import (
    murmur3_hash_long,
)


def test_murmur3_matches_jvm(spark):
    # static py4j calls on this class fail to resolve; instance calls work
    jvm = spark._jvm
    rng = np.random.default_rng(7)
    vals = np.concatenate(
        [
            rng.integers(-(2**62), 2**62, 64, dtype=np.int64),
            np.array([0, 1, -1, 2**63 - 1, -(2**63)], dtype=np.int64),
        ]
    )
    for seed in (0, 1, -1, 12345, -99999):
        m = jvm.org.apache.spark.unsafe.hash.Murmur3_x86_32(seed)
        jvm_res = np.array([m.hashLong(int(v)) for v in vals], dtype=np.int32)
        py_res = murmur3_hash_long(vals, seed)
        assert np.array_equal(jvm_res, py_res), f"seed {seed}"


def test_bloom_probe_matches_jvm(spark):
    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    bb = bloom_build(df, "k", expected_items=5000, fpp=0.03)
    sketch = BloomFilterSketch.from_bytes(bb)
    jbloom = spark._jvm.org.apache.spark.util.sketch.BloomFilter.readFrom(
        spark._jvm.java.io.ByteArrayInputStream(bytearray(bb))
    )
    probe = np.arange(-2000, 9000, 13, dtype=np.int64)
    py = sketch.might_contain_longs(probe)
    jv = np.array([jbloom.mightContainLong(int(v)) for v in probe])
    assert np.array_equal(py, jv)


def test_bloom_no_false_negatives_and_fpp(spark):
    n, fpp = 20_000, 0.01
    df = spark.range(0, n).withColumnRenamed("id", "k")
    bb = bloom_build(df, "k", expected_items=n, fpp=fpp)
    sketch = BloomFilterSketch.from_bytes(bb)
    members = np.arange(0, n, dtype=np.int64)
    assert sketch.might_contain_longs(members).all(), "false negative!"
    outsiders = np.arange(n, n + 50_000, dtype=np.int64)
    measured = sketch.might_contain_longs(outsiders).mean()
    assert measured <= 2 * fpp, f"measured FPP {measured} > 2x configured {fpp}"


def test_bloom_string_column(spark):
    df = spark.createDataFrame([(f"key-{i}",) for i in range(1000)], ["s"])
    bb = bloom_build(df, "s", expected_items=1000, fpp=0.01)
    inside = bloom_might_contain(df, "s", bb).agg(F.min("might_contain")).head()[0]
    assert inside is True
    probe = spark.createDataFrame([(f"other-{i}",) for i in range(1000)], ["s"])
    fp = (
        bloom_might_contain(probe, "s", bb)
        .agg(F.avg(F.col("might_contain").cast("double")))
        .head()[0]
    )
    assert fp <= 0.05


def test_numpy_bloom_zero_key_uses_distinct_positions():
    """Regression: with plain multiplicative hashing every hash function
    maps value 0 to bit 0 (a*0 == 0), collapsing k functions into one and
    inflating the zero-key false-positive rate. The (a, b) pair scheme
    hashes a*(v XOR b), so 0 must set k distinct bits (collisions aside)."""
    import numpy as np

    from bloom_filters_count_min_sketch_spark_streaming_spark.functions.bloom import (
        NumpyBloom,
    )

    bloom = NumpyBloom.from_params(expected_items=1000, fpp=0.01, seed=7)
    pos = bloom._positions(np.array([0], dtype=np.int64))[:, 0]
    k = len(bloom.hash_a) // 2
    assert len(set(pos.tolist())) > max(1, k // 2)
    # and the serialization roundtrip preserves the pair scheme
    bloom.add_longs(np.array([0, 1, 2], dtype=np.int64))
    back = NumpyBloom.from_bytes(bloom.to_bytes())
    assert back.might_contain_longs(np.array([0, 1, 2], dtype=np.int64)).all()


def test_bloom_union_matches_jvm_merge_and_has_no_false_negatives(spark):
    a = spark.range(0, 3000).withColumnRenamed("id", "k")
    b = spark.range(2500, 6000).withColumnRenamed("id", "k")
    kw = dict(expected_items=10_000, fpp=0.01)
    ba, bb = bloom_build(a, "k", **kw), bloom_build(b, "k", **kw)
    sk = BloomFilterSketch.from_bytes(ba).union(BloomFilterSketch.from_bytes(bb))

    # parity: bitwise OR == JVM mergeInPlace
    jvm = spark._jvm
    ja = jvm.org.apache.spark.util.sketch.BloomFilter.readFrom(
        jvm.java.io.ByteArrayInputStream(bytearray(ba))
    )
    jb = jvm.org.apache.spark.util.sketch.BloomFilter.readFrom(
        jvm.java.io.ByteArrayInputStream(bytearray(bb))
    )
    ja.mergeInPlace(jb)
    bos = jvm.java.io.ByteArrayOutputStream()
    ja.writeTo(bos)
    assert sk.to_bytes() == bytes(bos.toByteArray())

    # no false negatives over the union
    vals = np.arange(0, 6000, dtype=np.int64)
    assert sk.might_contain_longs(vals).all()


def test_bloom_intersect_no_false_negatives_on_intersection(spark):
    a = spark.range(0, 3000).withColumnRenamed("id", "k")
    b = spark.range(2500, 6000).withColumnRenamed("id", "k")
    kw = dict(expected_items=10_000, fpp=0.01)
    sa = BloomFilterSketch.from_bytes(bloom_build(a, "k", **kw))
    sb = BloomFilterSketch.from_bytes(bloom_build(b, "k", **kw))
    inter = sa.intersect(sb)
    in_both = np.arange(2500, 3000, dtype=np.int64)
    assert inter.might_contain_longs(in_both).all()
    # and it is a subset gate of either side's filter
    probe = np.arange(0, 10_000, dtype=np.int64)
    m = inter.might_contain_longs(probe)
    assert (~m | sa.might_contain_longs(probe)).all()
    assert (~m | sb.might_contain_longs(probe)).all()


def test_bloom_serialization_roundtrip(spark):
    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    raw = bloom_build(df, "k", expected_items=1000, fpp=0.05)
    sk = BloomFilterSketch.from_bytes(raw)
    assert sk.to_bytes() == raw


def test_bloom_sketch_table_no_false_negatives(spark, sf_dir):
    """The merged day-filter table can NEVER miss a present key (Bloom
    no-false-negative guarantee survives the OR-merge), and absent-key
    positives stay within a loose multiple of the configured fpp."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.plans.registry import (
        QUERIES,
        load_all_query_modules,
    )

    load_all_query_modules()
    rows = {r["probe_set"]: r for r in QUERIES["bloom_sketch_table_merge"](spark, sf_dir).collect()}
    assert rows["present"]["n_positive"] == rows["present"]["n_probes"]
    # fpp=0.01 per day-filter; OR-merging k filters inflates the union's
    # fill factor, so allow a loose bound
    assert rows["absent"]["n_positive"] <= rows["absent"]["n_probes"] * 0.25


def test_counting_bloom_insert_delete_roundtrip():
    from bloom_filters_count_min_sketch_spark_streaming_spark.functions.bloom import (
        CountingBloom,
    )

    cb = CountingBloom.from_params(1000, 1e-6, seed=7)
    keys = np.arange(0, 500, dtype=np.int64)
    cb.add_longs(keys)
    snapshot = cb.counters.copy()
    extra = np.arange(500, 700, dtype=np.int64)
    cb.add_longs(extra)
    cb.delete_longs(extra)
    # group property: insert then delete restores the exact counter state
    assert np.array_equal(cb.counters, snapshot)
    # no false negatives for survivors
    assert cb.might_contain_longs(keys).all()


def test_counting_bloom_merge_is_counter_sum():
    from bloom_filters_count_min_sketch_spark_streaming_spark.functions.bloom import (
        CountingBloom,
    )

    a = CountingBloom.from_params(1000, 1e-6, seed=7)
    b = CountingBloom.from_params(1000, 1e-6, seed=7)
    a.add_longs(np.arange(0, 300, dtype=np.int64))
    b.add_longs(np.arange(200, 500, dtype=np.int64))
    merged = a.merge(b)
    assert np.array_equal(merged.counters, a.counters + b.counters)
    assert merged.might_contain_longs(np.arange(0, 500, dtype=np.int64)).all()


def test_counting_bloom_distributed_build_matches_local(spark):
    """Spark sparse-delta build == local numpy build on the same multiset."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.functions.bloom import (
        CountingBloom,
        counting_bloom_build,
    )

    ins = spark.range(0, 400).withColumn("k", F.col("id") % 250)
    dels = spark.range(0, 100).withColumn("k", F.col("id") % 50)
    dist = counting_bloom_build(
        ins, "k", expected_items=1000, fpp=1e-6, delete_df=dels, delete_col="k", seed=7
    )
    local = CountingBloom.from_params(1000, 1e-6, seed=7)
    local.add_longs(np.array([i % 250 for i in range(400)], dtype=np.int64))
    local.delete_longs(np.array([i % 50 for i in range(100)], dtype=np.int64))
    assert np.array_equal(dist.counters, local.counters)


def _probe_longs(spark, keys: np.ndarray, bloom_bytes: bytes) -> np.ndarray:
    df = spark.createDataFrame(pd.DataFrame({"k": keys}))
    rows = bloom_might_contain(df, "k", bloom_bytes).toPandas()
    got = dict(zip(rows["k"].to_numpy(), rows["might_contain"].to_numpy(dtype=bool)))
    return np.array([got[k] for k in keys])


def test_catalyst_probe_matches_sketch_on_edge_and_random_longs(spark):
    edge = np.array(
        [0, 1, -1, 2, -2, 2**32, -(2**32), 2**32 - 1, 2**31, -(2**31), 2**63 - 1, -(2**63)],
        dtype=np.int64,
    )
    rng = np.random.default_rng(11)

    def random_longs(n: int) -> np.ndarray:
        return rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64)

    inserted = np.concatenate([edge[::2], random_longs(20_000)])
    probe = np.unique(np.concatenate([edge, inserted[:5_000], random_longs(60_000)]))
    # a loose filter (fpp 0.2) so the non-inserted half has many positives
    # and a wrong bit index would show as a mismatch on both sides
    bb = bloom_build(spark.createDataFrame(pd.DataFrame({"k": inserted})), "k", len(inserted), 0.2)
    expected = BloomFilterSketch.from_bytes(bb).might_contain_longs(probe)
    got = _probe_longs(spark, probe, bb)
    assert 0.05 < expected.mean() < 0.95
    assert np.array_equal(got, expected), f"{int((got != expected).sum())} mismatching rows"


def test_catalyst_probe_null_long_key_is_null(spark):
    # string keys: tests/test_advice_fixes.py::test_bloom_null_string_key_probe_is_null
    longs = spark.createDataFrame([(1,), (None,), (5,)], "k bigint")
    bb = bloom_build(longs, "k", 10, 0.01)
    rows = {r["k"]: r["might_contain"] for r in bloom_might_contain(longs, "k", bb).collect()}
    assert rows == {1: True, None: None, 5: True}


def test_catalyst_probe_of_union_bytes(spark):
    kw = dict(expected_items=10_000, fpp=0.05)
    a = bloom_build(spark.range(0, 3000).withColumnRenamed("id", "k"), "k", **kw)
    b = bloom_build(spark.range(2500, 6000).withColumnRenamed("id", "k"), "k", **kw)
    merged = BloomFilterSketch.from_bytes(a).union(BloomFilterSketch.from_bytes(b))
    probe = np.arange(-1000, 9000, dtype=np.int64)
    got = _probe_longs(spark, probe, merged.to_bytes())
    assert got[(probe >= 0) & (probe < 6000)].all()
    assert np.array_equal(got, merged.might_contain_longs(probe))


def test_catalyst_probe_plan_has_no_python_eval(spark):
    df = spark.range(0, 100).withColumnRenamed("id", "k")
    bb = bloom_build(df, "k", 100, 0.01)
    plan = bloom_might_contain(df, "k", bb)._jdf.queryExecution().executedPlan().toString()
    assert "might_contain(" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_bloom_build_catches_only_the_zero_row_failure(spark):
    empty = spark.range(0, 10).where("id < 0").withColumnRenamed("id", "k")
    assert not BloomFilterSketch.from_bytes(bloom_build(empty, "k", 100, 0.01)).words.any()

    bad = spark.range(0, 10).select(F.raise_error(F.lit("bad key")).cast("long").alias("k"))
    with pytest.raises(Exception, match="bad key"):
        bloom_build(bad, "k", 100, 0.01)
