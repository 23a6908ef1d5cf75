"""Property tests for the engine-internal state sketches (NumpyBloom /
NumpyCMS) used by the streaming stateful operators."""

from __future__ import annotations

import numpy as np

from bloom_filters_count_min_sketch_spark_streaming_spark.functions.bloom import NumpyBloom
from bloom_filters_count_min_sketch_spark_streaming_spark.functions.cms import NumpyCMS


def test_numpy_bloom_no_false_negatives_and_fpp():
    bloom = NumpyBloom.from_params(expected_items=10_000, fpp=0.01, seed=1)
    members = np.arange(0, 10_000, dtype=np.int64)
    bloom.add_longs(members)
    assert bloom.might_contain_longs(members).all()
    outside = np.arange(10_000, 60_000, dtype=np.int64)
    assert bloom.might_contain_longs(outside).mean() <= 0.02


def test_numpy_bloom_serialization_roundtrip():
    bloom = NumpyBloom.from_params(1000, 0.01, seed=3)
    vals = np.array([1, 5, 99, -7, 2**40], dtype=np.int64)
    bloom.add_longs(vals)
    back = NumpyBloom.from_bytes(bloom.to_bytes())
    assert back.might_contain_longs(vals).all()
    assert np.array_equal(back.bits, bloom.bits)


def test_numpy_cms_one_sided_and_merge():
    rng = np.random.default_rng(5)
    a_vals = rng.integers(0, 200, 30_000).astype(np.int64)
    b_vals = rng.integers(100, 300, 30_000).astype(np.int64)
    kw = dict(eps=0.001, confidence=0.99, seed=9)
    a, b, u = NumpyCMS.from_params(**kw), NumpyCMS.from_params(**kw), NumpyCMS.from_params(**kw)
    a.add_longs(a_vals)
    b.add_longs(b_vals)
    u.add_longs(np.concatenate([a_vals, b_vals]))
    merged = a.merge(b)
    assert np.array_equal(merged.table, u.table)
    assert merged.total == u.total
    keys = np.arange(0, 300, dtype=np.int64)
    est = merged.estimate_longs(keys)
    true = np.array([(np.concatenate([a_vals, b_vals]) == k).sum() for k in keys])
    assert (est >= true).all()
    assert (est - true <= 0.001 * merged.total).mean() >= 0.99


def test_numpy_cms_serialization_roundtrip():
    cms = NumpyCMS.from_params(eps=0.01, confidence=0.9, seed=11)
    vals = np.array([3, 3, 3, 7, -1], dtype=np.int64)
    cms.add_longs(vals)
    back = NumpyCMS.from_bytes(cms.to_bytes())
    assert np.array_equal(back.table, cms.table)
    assert back.total == cms.total
    assert back.estimate_longs(np.array([3], dtype=np.int64))[0] == 3


def test_dgim_core_invariants_and_error_bound():
    """DGIM pure core: ts-sorted buckets, power-of-two sizes, <= 2 per
    size, O(log^2) bucket count, estimate within the 50% bound at every
    micro-batch boundary — and batch-split invariance (folding the same
    stream in different chunkings ends in the same buckets)."""
    import math
    import random
    from collections import Counter

    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.stateful import (
        _dgim_ingest,
    )

    rng = random.Random(11)
    stream = sorted(rng.sample(range(1, 3_000_000), 40_000))
    W = 400_000

    ts, sz = [], []
    for i in range(0, len(stream), 5_000):
        chunk = stream[i : i + 5_000]
        now = chunk[-1]
        ts, sz, est = _dgim_ingest(ts, sz, chunk, now, W)
        exact = sum(1 for t in stream[: i + 5_000] if now - W < t <= now)
        assert abs(est - exact) <= max(1, exact) * 0.5, (est, exact)
        assert ts == sorted(ts)
        assert all(s & (s - 1) == 0 for s in sz), "sizes must be powers of two"
        assert all(c <= 2 for c in Counter(sz).values()), "<= 2 buckets per size"
        assert len(sz) <= 2 * (math.floor(math.log2(max(sum(sz), 1))) + 2)

    # batch-split invariance: one fold == many folds
    ts1, sz1, est1 = _dgim_ingest([], [], stream, stream[-1], W)
    assert (ts1, sz1, est1) == (ts, sz, est)


def test_triest_core_contracts():
    """TRIEST pure core: (a) saturated regime (M >= |E|) reproduces exact
    per-node triangle participation regardless of chunking and re-arrivals
    (the stream_triest_saturated_exact regime); (b) the reservoir
    estimator with the t(t-1)(t-2)/(M(M-1)(M-2)) scale is unbiased within
    a few percent averaged over seeds."""
    import numpy as np

    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.stateful import (
        _triest_ingest,
    )

    rng = np.random.RandomState(5)
    n_nodes = 30
    all_pairs = [(u, v) for u in range(n_nodes) for v in range(u + 1, n_nodes)]
    rng.shuffle(all_pairs)
    e_list = all_pairs[:200]
    codes = [u * n_nodes + v for u, v in e_list]
    adj = {i: set() for i in range(n_nodes)}
    for u, v in e_list:
        adj[u].add(v)
        adj[v].add(u)
    exact = {i: 0 for i in range(n_nodes)}
    tri_total = 0
    for u, v in e_list:
        for w in adj[u] & adj[v]:
            if w > v:
                exact[u] += 1
                exact[v] += 1
                exact[w] += 1
                tri_total += 1

    edges, counts, seen, t = set(), {}, set(), 0
    stream = codes + codes[:50]  # re-arrivals must be ignored
    for i in range(0, len(stream), 37):
        t = _triest_ingest(
            edges, counts, seen, t, stream[i : i + 37], 10_000, n_nodes, 7
        )
    assert t == 200 and len(edges) == 200
    assert all(counts.get(i, 0) == exact[i] for i in range(n_nodes))

    m_cap = 64
    ests = []
    for seed in range(30):
        edges, counts, seen, t = set(), {}, set(), 0
        t = _triest_ingest(edges, counts, seen, t, codes, m_cap, n_nodes, seed)
        scale = max(
            1.0, (t * (t - 1) * (t - 2)) / (m_cap * (m_cap - 1) * (m_cap - 2))
        )
        ests.append(scale * sum(counts.values()) / 3)
    assert abs(float(np.mean(ests)) / tri_total - 1) < 0.1, np.mean(ests)


def test_adwin_core_contracts():
    """ADWIN pure core: (a) no cut on a constant signal with EXACT window
    totals through the bucket merges (the stream_adwin_stationary_exact
    regime); (b) negligible false alarms on stationary Bernoulli data;
    (c) an abrupt 0.2 -> 0.8 rate shift is detected and the window
    shrinks to ~the post-change data; (d) batch-chunking invariance on
    the constant stream (cut checks run per batch, merges per value)."""
    import numpy as np

    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.stateful import (
        _adwin_ingest,
    )

    cnt, sm, det = _adwin_ingest([], [], np.ones(5000), 5, 0.002)
    assert det == 0 and sum(cnt) == 5000 and sum(sm) == 5000.0

    rng = np.random.RandomState(4)
    vals = (rng.uniform(size=20000) < 0.3).astype(float)
    cnt, sm, det = [], [], 0
    for i in range(0, len(vals), 1000):
        cnt, sm, d = _adwin_ingest(cnt, sm, vals[i : i + 1000], 5, 0.002)
        det += d
    assert det == 0 and sum(cnt) == len(vals)

    a = (rng.uniform(size=5000) < 0.2).astype(float)
    b = (rng.uniform(size=5000) < 0.8).astype(float)
    shifted = np.concatenate([a, b])
    cnt, sm, det = [], [], 0
    for i in range(0, len(shifted), 500):
        cnt, sm, d = _adwin_ingest(cnt, sm, shifted[i : i + 500], 5, 0.002)
        det += d
    w = sum(cnt)
    assert det > 0, "shift must be detected"
    assert w <= 6500, f"window must shrink past the change (got {w})"
    assert abs(sum(sm) / w - 0.8) < 0.1, "surviving window must be post-change"

    c1, s1, _ = _adwin_ingest([], [], np.ones(3000), 5, 0.002)
    c2, s2 = [], []
    for i in range(0, 3000, 700):
        c2, s2, _ = _adwin_ingest(c2, s2, np.ones(3000)[i : i + 700], 5, 0.002)
    assert (c1, s1) == (c2, s2)


def test_adwin_one_detection_per_cut_event():
    """ONE detection per cut event (r11 ADVICE fix, pinned): a single
    abrupt shift pushed through ONE _adwin_ingest call sheds MANY oldest
    buckets in the cut loop, but must report det == 1 — the old
    per-dropped-bucket counting would report it as k detections. The
    shed-volume assertion proves the case actually exercises a
    multi-bucket shrink (otherwise det == 1 wouldn't discriminate)."""
    import numpy as np

    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.stateful import (
        _adwin_ingest,
    )

    rng = np.random.RandomState(4)
    low = (rng.uniform(size=5000) < 0.2).astype(float)
    cnt, sm, det = _adwin_ingest([], [], low, 5, 0.002)
    assert det == 0
    pre_window = sum(cnt)
    max_bucket = max(cnt)

    high = (rng.uniform(size=5000) < 0.8).astype(float)
    cnt, sm, det = _adwin_ingest(cnt, sm, high, 5, 0.002)
    shed = pre_window + 5000 - sum(cnt)
    assert shed > max_bucket, (
        f"case must shed more than one bucket (shed {shed}, "
        f"max pre-shift bucket {max_bucket})"
    )
    assert det == 1, f"one cut event must count as ONE detection, got {det}"


def test_dgim_saturated_capacity_is_exact():
    """The paper's ceil(1/r)+1 capacity knob: with max_per_size >= total
    ones no merge fires, every bucket is size 1, and the estimate equals
    the exact trailing-window count at every batch boundary — the regime
    stream_dgim_saturated_exact pins against SQL. Also checks the default
    capacity still merges (the two paths genuinely differ)."""
    import random

    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.stateful import (
        _dgim_ingest,
    )

    rng = random.Random(7)
    stream = sorted(rng.sample(range(1, 500_000), 2_000))
    W = 120_000
    ts, sz = [], []
    for i in range(0, len(stream), 300):
        chunk = stream[i : i + 300]
        now = chunk[-1]
        ts, sz, est = _dgim_ingest(ts, sz, chunk, now, W, max_per_size=len(stream))
        exact = sum(1 for t in stream[: i + 300] if now - W < t <= now)
        assert est == exact, (est, exact)
        assert all(s == 1 for s in sz), "saturated regime must never merge"
    # same stream, default capacity: merges fire (some bucket exceeds 1)
    ts2, sz2, _ = _dgim_ingest([], [], stream, stream[-1], W)
    assert any(s > 1 for s in sz2)


def test_dgim_eviction_empties_idle_window():
    """A long quiet gap must evict every bucket (state returns to zero) —
    the property that keeps DGIM state bounded on bursty streams."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.stateful import (
        _dgim_ingest,
    )

    ts, sz, est = _dgim_ingest([], [], list(range(1, 1_001)), 1_000, 500)
    assert est > 0 and len(sz) > 0
    # a lone 0-bit batch far in the future: now advances, no new ones
    ts, sz, est = _dgim_ingest(ts, sz, [], 10_000_000, 500)
    assert (ts, sz, est) == ([], [], 0)


def test_streaming_misra_gries_reducing_regime(spark, tmp_path):
    """k=3 counters against 10 distinct items across micro-batches: state
    stays <= k, every surviving value is a lower bound within N/k of the
    true count, and the genuinely heavy item (> N/k of the stream)
    survives every reduction — the MG guarantee, on the state store."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming import (
        stateful,
    )
    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.runner import (
        run_available_now,
    )

    # one shard; item 'hot' is half the stream, nine cold items share the rest
    rows = []
    n = 0
    for rep in range(60):
        rows.append((0, "hot"))
        rows.append((0, f"cold{rep % 9}"))
        n += 2
    batches = [rows[:40], rows[40:80], rows[80:]]

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    for i, b in enumerate(batches):
        pdf = pd.DataFrame(b, columns=["shard", "item"])
        pdf["shard"] = pdf["shard"].astype("int64")
        path = f"{src_dir}/part-{i:05d}.parquet"
        pq.write_table(pa.Table.from_pandas(pdf), path)
        os.utime(path, (1_600_000_000 + i, 1_600_000_000 + i))
    schema = spark.read.parquet(src_dir).schema
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)

    k = 3
    out = run_available_now(stateful.misra_gries_state(src, k=k), "append")
    final = {
        r["item"]: r["mg_value"]
        for r in out.filter(
            F.col("seq") == out.agg(F.max("seq")).collect()[0][0]
        ).collect()
    }
    assert len(final) <= k, final
    assert "hot" in final, "majority item must survive every reduction"
    true = {"hot": 60}
    for rep in range(60):
        true[f"cold{rep % 9}"] = true.get(f"cold{rep % 9}", 0) + 1
    for item, v in final.items():
        assert 0 < v <= true[item], (item, v, true[item])
        assert true[item] - v <= n / k, (item, v, true[item])


def test_spacesaving_core_invariants():
    """Pure SS core: conservation (sum counts == N), <= k counters,
    overestimate sandwich (count >= true >= count - err), N/k max error,
    and any item above N/k of the stream is monitored at the end."""
    from collections import Counter

    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.stateful import (
        _ss_ingest,
    )

    k = 4
    stream = []
    for rep in range(50):
        stream.append("hot")  # 1/3 of the stream > N/k for k=4
        stream.append(f"cold{rep % 11}")
        if rep % 2 == 0:
            stream.append("warm")
    true = Counter(stream)
    counts, errs = _ss_ingest({}, {}, stream, k)
    n = len(stream)
    assert len(counts) <= k
    assert sum(counts.values()) == n, "SpaceSaving conserves stream length"
    for it, c in counts.items():
        assert c >= true[it], (it, c, true[it])
        assert c - errs[it] <= true[it], (it, c, errs[it], true[it])
        assert errs[it] <= n / k
    assert "hot" in counts, "an item above N/k must be monitored"


def test_spacesaving_batch_split_invariance():
    """Folding the same ordered stream through different batch boundaries
    yields the identical summary — micro-batch boundaries can't change
    the answer."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.stateful import (
        _ss_ingest,
    )

    stream = [f"i{(j * 7) % 13}" for j in range(300)]
    one_c, one_e = _ss_ingest({}, {}, stream, 5)
    prev = 0
    sp_c, sp_e = {}, {}
    for cut in (17, 100, 161, 300):
        sp_c, sp_e = _ss_ingest(sp_c, sp_e, stream[prev:cut], 5)
        prev = cut
    assert one_c == sp_c and one_e == sp_e


def test_streaming_spacesaving_evicting_regime(spark, tmp_path):
    """k=3 counters against 10 distinct items across micro-batches: the
    state-store operator preserves the SS guarantees — conservation,
    overestimate sandwich, and survival of the majority item."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming import (
        stateful,
    )
    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.runner import (
        run_available_now,
    )

    rows = []
    for rep in range(60):
        rows.append((0, rep * 2, rep * 2, "hot"))
        rows.append((0, rep * 2 + 1, rep * 2 + 1, f"cold{rep % 9}"))
    n = len(rows)
    true = {}
    for _, _, _, it in rows:
        true[it] = true.get(it, 0) + 1
    batches = [rows[:40], rows[40:80], rows[80:]]

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    for i, b in enumerate(batches):
        pdf = pd.DataFrame(b, columns=["shard", "event_id", "ts_us", "item"])
        for c in ("shard", "event_id", "ts_us"):
            pdf[c] = pdf[c].astype("int64")
        path = f"{src_dir}/part-{i:05d}.parquet"
        pq.write_table(pa.Table.from_pandas(pdf), path)
        os.utime(path, (1_600_000_000 + i, 1_600_000_000 + i))
    schema = spark.read.parquet(src_dir).schema
    src = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
    )

    k = 3
    out = run_available_now(stateful.space_saving_state(src, k=k), "append")
    mx = out.agg(F.max("seq")).collect()[0][0]
    final = {
        r["item"]: (r["ss_count"], r["ss_err"])
        for r in out.filter(F.col("seq") == mx).collect()
    }
    assert len(final) <= k
    assert sum(c for c, _ in final.values()) == n, "conservation across batches"
    assert "hot" in final
    for it, (c, e) in final.items():
        t = true.get(it, 0)
        assert c >= t, (it, c, t)
        assert c - e <= t, (it, c, e, t)
        assert e <= n / k


def test_eh_sum_core_invariants_and_bound():
    """EH-for-sums pure core: power-of-two sizes with <= k per size,
    ts-ascending buckets, total bucket mass == in-window stream mass
    (plus the straddling oldest), and |est - true| <= oldest/2 across a
    sliding sweep."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.stateful import (
        _eh_ingest,
    )

    k = 4
    W = 200
    vals = [(t, (t * 7) % 23 + 1) for t in range(1, 1001)]
    ts, sz = [], []
    for lo in range(0, 1000, 100):
        chunk = vals[lo : lo + 100]
        now = chunk[-1][0]
        ts, sz, est, oldest = _eh_ingest(ts, sz, chunk, now, W, k)
        assert ts == sorted(ts)
        from collections import Counter

        per_size = Counter(sz)
        for s, c in per_size.items():
            assert s & (s - 1) == 0, "sizes are powers of two"
            assert c <= k, f"more than {k} buckets of size {s}"
        true = sum(v for t, v in vals[: lo + 100] if t > now - W)
        assert abs(est - true) <= oldest / 2, (est, true, oldest)


def test_eh_sum_split_invariance_and_k2_matches_dgim():
    """Batch boundaries can't change the histogram, and with k=2 on a
    unit-value stream the buckets and estimate degenerate to DGIM's."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.stateful import (
        _dgim_ingest,
        _eh_ingest,
    )

    vals = [(t, ((t * 13) % 9) + 1) for t in range(1, 301)]
    W = 120
    one = _eh_ingest([], [], vals, 300, W, 3)
    ts, sz = [], []
    for cuts in ((0, 50), (50, 199), (199, 300)):
        chunk = vals[cuts[0] : cuts[1]]
        ts, sz, est, oldest = _eh_ingest(ts, sz, chunk, chunk[-1][0], W, 3)
    assert (ts, sz, est, oldest) == one

    bits = [t for t in range(1, 201) if (t * 11) % 3 == 0]
    d_ts, d_sz, d_est = _dgim_ingest([], [], bits, 200, W)
    e_ts, e_sz, e_est, _ = _eh_ingest(
        [], [], [(t, 1) for t in bits], 200, W, 2
    )
    assert (d_ts, d_sz, d_est) == (e_ts, e_sz, e_est)


def test_eh_sum_idle_eviction():
    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.stateful import (
        _eh_ingest,
    )

    ts, sz, est, oldest = _eh_ingest(
        [], [], [(t, 3) for t in range(1, 501)], 500, 100, 4
    )
    assert est > 0
    ts, sz, est, oldest = _eh_ingest(ts, sz, [], 10_000_000, 100, 4)
    assert ts == [] and sz == [] and est == 0 and oldest == 0


def test_stable_bloom_core_properties():
    """SBF pure core: (1) an immediately repeated key is always flagged
    (its cells were just set to max and at most p_dec decrements
    intervened — with m >> p_dec the survival probability is ~1; we use a
    repeat-gap of 1 so cells are still hot); (2) memory is constant and
    the zero fraction stabilizes instead of marching to 0 (the filter
    never saturates); (3) determinism: same stream -> same cells."""
    import numpy as np

    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.stateful import (
        _sbf_ingest,
    )

    m, kh, p, mx = 4096, 3, 10, 3
    # adjacent duplicates: every odd arrival repeats the previous key
    keys = []
    for i in range(2000):
        keys.append(i)
        keys.append(i)
    cells = np.zeros(m, dtype=np.int8)
    dups, seen = _sbf_ingest(cells, keys, kh, p, mx, 0)
    assert seen == 4000
    # every immediate repeat flagged; a handful of fresh keys may collide
    # (false positives), so dups >= 2000 and not wildly above
    assert 2000 <= dups <= 2000 + 200, dups
    zf_mid = (cells == 0).mean()
    # keep streaming: zero fraction must STABILIZE, not vanish
    cells2 = cells.copy()
    _sbf_ingest(cells2, [x + 10_000 for x in range(4000)], kh, p, mx, seen)
    zf_end = (cells2 == 0).mean()
    assert zf_end > 0.05, "stability: the filter must not saturate"
    assert abs(zf_end - zf_mid) < 0.25, (zf_mid, zf_end)
    # determinism
    c3 = np.zeros(m, dtype=np.int8)
    d3, _ = _sbf_ingest(c3, keys, kh, p, mx, 0)
    assert d3 == dups and np.array_equal(c3, cells)


def test_stable_bloom_decay_forgets_old_keys():
    """False negatives BY DESIGN: a key re-seen after a long stretch of
    fresh traffic should usually have decayed out — the property that
    bounds memory. We assert decay happens at all (some early keys are
    forgotten), not a rate."""
    import numpy as np

    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.stateful import (
        _sbf_ingest,
        _sbf_positions,
    )

    m, kh, p, mx = 1024, 3, 20, 3
    cells = np.zeros(m, dtype=np.int8)
    early = list(range(100))
    _, seen = _sbf_ingest(cells, early, kh, p, mx, 0)
    _, seen = _sbf_ingest(cells, list(range(1000, 9000)), kh, p, mx, seen)
    forgotten = 0
    for x in early:
        if not all(cells[j] > 0 for j in _sbf_positions(x, kh, m)):
            forgotten += 1
    assert forgotten > 0, "decay must eventually forget stale keys"


def test_streaming_lossy_counting_pruning_regime(spark, tmp_path):
    """eps large enough that bucket boundaries fall inside the stream:
    state must prune low-frequency items, every surviving estimate obeys
    f_true - eps*N <= est <= f_true (batch folding only widens delta
    toward the same bound), and the genuinely frequent item survives."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming import (
        stateful,
    )
    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.runner import (
        run_available_now,
    )

    # one shard, 300 rows: 'hot' is 1/3 of the stream; 20 cold singtons
    # cycle through the rest
    rows = []
    for rep in range(100):
        rows.append((0, "hot"))
        rows.append((0, f"cold{rep % 20}"))
        rows.append((0, f"cold{(rep + 7) % 20}"))
    n = len(rows)
    batches = [rows[:100], rows[100:220], rows[220:]]

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    for i, b in enumerate(batches):
        pdf = pd.DataFrame(b, columns=["shard", "item"])
        pdf["shard"] = pdf["shard"].astype("int64")
        path = f"{src_dir}/part-{i:05d}.parquet"
        pq.write_table(pa.Table.from_pandas(pdf), path)
        os.utime(path, (1_600_000_000 + i, 1_600_000_000 + i))
    schema = spark.read.parquet(src_dir).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )

    eps = 0.05  # w = 20 -> 15 bucket boundaries inside the stream
    out = run_available_now(stateful.lossy_counting_state(src, eps=eps), "append")
    final = {
        r["item"]: r["lc_value"]
        for r in out.filter(
            F.col("seq") == out.agg(F.max("seq")).collect()[0][0]
        ).collect()
    }
    true = {}
    for _, it in rows:
        true[it] = true.get(it, 0) + 1
    # pruning actually fired: the cold tail cannot all survive
    assert len(final) < len(true), (len(final), len(true))
    assert "hot" in final, "an item above eps*N must survive"
    for item, v in final.items():
        assert 0 < v <= true[item], (item, v, true[item])
        assert true[item] - v <= eps * n, (item, v, true[item], eps * n)


def _cms_with_counters(values):
    """A small NumpyCMS whose first counters are set to ``values``."""
    cms = NumpyCMS.from_params(eps=0.01, confidence=0.9, seed=13)
    flat = cms.table.reshape(-1)
    flat[: len(values)] = values
    cms.total = int(max(values))
    return cms


def test_numpy_cms_bytes_use_the_narrowest_counter_width():
    """to_bytes stores counters as uint16 / uint32 when the largest fits
    and int64 otherwise (any negative counter included); from_bytes
    widens back to int64 with every counter intact."""
    cases = [
        ([65_535, 1], 2),
        ([65_536, 1], 4),
        ([2**32 - 1], 4),
        ([2**32, 7], 8),
        ([3, -1], 8),
    ]
    for values, itemsize in cases:
        cms = _cms_with_counters(values)
        raw = cms.to_bytes()
        head = 17 + 8 * cms.depth
        assert len(raw) == head + itemsize * cms.depth * cms.width, values
        back = NumpyCMS.from_bytes(raw)
        assert back.table.dtype == np.int64
        assert np.array_equal(back.table, cms.table), values
        assert np.array_equal(back.hash_a, cms.hash_a)
        assert (back.depth, back.width, back.total) == (cms.depth, cms.width, cms.total)


def test_numpy_cms_small_sketch_encodes_smaller():
    """A sketch over a few thousand items encodes in a quarter of the int64
    table bytes, and estimates from the decoded sketch are unchanged."""
    cms = NumpyCMS.from_params(eps=0.0001, confidence=0.999, seed=42)
    vals = np.random.default_rng(2).integers(0, 20_000, 5_000).astype(np.int64)
    cms.add_longs(vals)
    raw = cms.to_bytes()
    assert len(raw) < cms.table.nbytes // 3
    back = NumpyCMS.from_bytes(raw)
    keys = np.unique(vals)
    assert np.array_equal(back.estimate_longs(keys), cms.estimate_longs(keys))
    back.add_longs(vals)  # decoded state keeps accumulating in int64
    assert back.table.max() == 2 * cms.table.max()


def _sketch_samples():
    """One of each sketch that pickles through its own codec."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.functions.kll import KLLSketch
    from bloom_filters_count_min_sketch_spark_streaming_spark.functions.tdigest import TDigest

    rng = np.random.default_rng(4)
    cms = _cms_with_counters([2**32, -5, 9])
    bloom = NumpyBloom.from_params(1000, 0.01, seed=3)
    bloom.add_longs(rng.integers(0, 10**6, 300).astype(np.int64))
    kll = KLLSketch(k=32, seed=5)
    kll.add_many(rng.normal(size=2000))
    td = TDigest(50)
    td.add_values(np.sort(rng.normal(size=2000)))
    return {"cms": cms, "bloom": bloom, "kll": kll, "tdigest": td}


def test_sketches_pickle_through_their_codecs():
    """pickle round-trips every state sketch bit-exactly: the unpickled
    object re-encodes to the same bytes (the CMS case holds a counter at
    2**32 and a negative one, so it takes the int64 path)."""
    import pickle

    for name, sk in _sketch_samples().items():
        back = pickle.loads(pickle.dumps(sk))
        assert type(back) is type(sk), name
        assert back.to_bytes() == sk.to_bytes(), name


def test_pickled_cms_costs_only_a_fixed_frame_over_its_codec():
    """A pickled NumpyCMS is its narrow to_bytes() payload plus a fixed
    frame (the class reference and pickle opcodes), not the int64 table:
    the overhead is the same small constant for a 1 KB and a 400 KB
    sketch."""
    import pickle

    small = _cms_with_counters([3, 1])
    large = NumpyCMS.from_params(eps=0.0001, confidence=0.999, seed=42)
    large.add_longs(np.arange(5_000, dtype=np.int64))
    for cms in (small, large):
        overhead = len(pickle.dumps(cms)) - len(cms.to_bytes())
        assert 0 < overhead <= 160, overhead


def _write_batches(tmp_path, batches, columns, dtypes):
    """One parquet file per micro-batch with ascending mtimes, read back as
    a one-file-per-trigger stream."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows, columns=columns).astype(dtypes)
        path = f"{src_dir}/part-{i:05d}.parquet"
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        os.utime(path, (1_600_000_000 + i, 1_600_000_000 + i))
    return src_dir


def test_keyed_fold_seq_counts_only_batches_with_rows(spark, tmp_path):
    """keyed_fold hands step the key's accumulator and a per-key seq that
    advances only in micro-batches where the key has rows: key 'b' is
    absent from batch 2, so it stays at seq 1 there and its next batch
    (batch 3) is its seq 2, with its running total carried over."""
    import pandas as pd
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming import stateful
    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.runner import (
        run_available_now,
    )

    src_dir = _write_batches(
        tmp_path,
        [[("a", 1), ("b", 1), ("a", 1)], [("a", 1), ("c", 1)], [("b", 1)]],
        ["k", "v"],
        {"k": "object", "v": "int64"},
    )
    schema = spark.read.parquet(src_dir).schema
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
    out_schema = StructType(
        [
            StructField("k", StringType()),
            StructField("seq", LongType()),
            StructField("total", LongType()),
        ]
    )

    def step(key, total, batch, seq):
        total = (total or 0) + len(batch)
        return total, pd.DataFrame({"k": [key[0]], "seq": [seq], "total": [total]})

    out = run_available_now(stateful.keyed_fold(src, ["k"], out_schema, step), "append")
    got = sorted(tuple(r) for r in out.collect())
    assert got == [("a", 1, 2), ("a", 2, 3), ("b", 1, 1), ("b", 2, 2), ("c", 1, 1)], got


def test_heavy_hitter_state_keeps_empty_and_separator_items(spark, tmp_path):
    """Misra-Gries, SpaceSaving and Lossy Counting keep every item name
    exactly across micro-batches. Shard 0 sees ["", "", ""] then ["a",
    "a"]: the empty-string counter must survive into batch 2 (SpaceSaving
    must conserve sum(count) == N). Shard 1 holds an item containing the
    0x1F byte, which must stay one item with its own count."""
    from pyspark.sql import functions as F

    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming import stateful
    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.runner import (
        run_available_now,
    )

    items = [
        [(0, ""), (0, ""), (0, ""), (1, "x\x1fy"), (1, "z")],
        [(0, "a"), (0, "a"), (1, "z")],
    ]
    batches, eid = [], 0
    for rows in items:
        batch = []
        for shard, item in rows:
            eid += 1
            batch.append((shard, eid, 1_000 * eid, item))
        batches.append(batch)
    src_dir = _write_batches(
        tmp_path,
        batches,
        ["shard", "event_id", "ts_us", "item"],
        {"shard": "int64", "event_id": "int64", "ts_us": "int64", "item": "object"},
    )
    schema = spark.read.parquet(src_dir).schema
    want = {0: {"": 3, "a": 2}, 1: {"x\x1fy": 1, "z": 2}}
    for op, value_col in (
        (lambda s: stateful.misra_gries_state(s, k=2), "mg_value"),
        (lambda s: stateful.space_saving_state(s, k=2), "ss_count"),
        (lambda s: stateful.lossy_counting_state(s, eps=0.1), "lc_value"),
    ):
        src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
        out = run_available_now(op(src), "append")
        last = out.filter(F.col("seq") == 2).collect()
        got = {0: {}, 1: {}}
        for r in last:
            got[r["shard"]][r["item"]] = r[value_col]
        assert got == want, (value_col, got)
