"""The benchmark's own checks must be able to fail.

    python3 -m pytest perfbench/tests -q      (from the repository root)

Each test corrupts one output the way a broken program would and asserts
the matching check reports it, and that the uncorrupted output passes.
No Spark session is needed.
"""

from __future__ import annotations

import filecmp
import os
import struct
import tempfile

import numpy as np
import pandas as pd

from bloom_filters_count_min_sketch_spark_streaming_spark.functions.bloom import BloomFilterSketch
from bloom_filters_count_min_sketch_spark_streaming_spark.functions.cms import NumpyCMS
from perfbench import checks, gen

KEYS = np.arange(1, 200, dtype=np.int64) * 7919


def _sketch(words: np.ndarray) -> BloomFilterSketch:
    return BloomFilterSketch(version=2, num_hash_functions=3, seed=0, words=words)


def test_bloom_check_catches_a_cleared_bit_of_an_inserted_key():
    full = _sketch(np.full(16, np.uint64(2**64 - 1)))
    hits = int(full.might_contain_longs(KEYS).sum())
    assert checks.bloom_problems(len(KEYS), hits, 0, 0, 0.01) == []

    key = KEYS[:1]
    for bit in range(full.bit_size):
        words = full.words.copy()
        words[bit // 64] &= ~np.uint64(1 << (bit % 64))
        broken = _sketch(words)
        if not broken.might_contain_longs(key)[0]:
            break
    else:
        raise AssertionError("no bit of the key found")
    hits = int(broken.might_contain_longs(KEYS).sum())
    problems = checks.bloom_problems(len(KEYS), hits, 0, 0, 0.01)
    assert any("false negatives" in p for p in problems)


def test_bloom_check_bounds_false_positives():
    assert checks.bloom_problems(0, 0, 100_000, 1_000, 0.01) == []
    assert checks.bloom_problems(0, 0, 100_000, 1_400, 0.01) != []


def test_cms_check_catches_one_lowered_counter():
    rng = np.random.default_rng(0)
    values = rng.choice(KEYS, 5_000)
    uniq, counts = np.unique(values, return_counts=True)
    sketch = NumpyCMS.from_params(eps=0.01, confidence=0.9, seed=1)
    sketch.add_longs(values)

    def problems():
        return checks.cms_problems(
            uniq, counts, uniq, sketch.estimate_longs(uniq), len(values), sketch.total, 0.01, 0.9
        )

    assert problems() == []
    hot = uniq[np.argmax(counts)]
    row = sketch.table[0]
    for col in range(sketch.width):
        saved = row[col]
        row[col] = 0
        if sketch.estimate_longs(np.array([hot]))[0] < counts.max():
            break
        row[col] = saved
    else:
        raise AssertionError("no counter of the key found")
    assert any("underestimated" in p for p in problems())


def test_cms_check_reads_the_total_and_flags_a_wrong_one():
    assert checks.cms_total_count(struct.pack(">iq", 1, 12345) + b"\0" * 8) == 12345
    uniq = np.array([1, 2], dtype=np.int64)
    counts = np.array([3, 4])
    assert checks.cms_problems(uniq, counts, uniq, counts, 7, 7, 0.1, 0.9) == []
    assert checks.cms_problems(uniq, counts, uniq, counts, 7, 6, 0.1, 0.9) != []


def test_stream_checks_catch_undercounts():
    exact = {"a": [3, 0], "b": [5, 1]}
    final = {("a", 0): 3, ("a", 9): 0, ("b", 0): 5, ("b", 9): 1}
    rows = {"a": 10, "b": 10}
    assert checks.stream_cms_problems(final, exact, [0, 9], rows, 0.01, 0.999) == []
    final[("b", 0)] = 4
    assert checks.stream_cms_problems(final, exact, [0, 9], rows, 0.01, 0.999) != []
    assert checks.stream_bloom_problems({"a": 7}, {"a": 7}, 1e-9) == []
    assert checks.stream_bloom_problems({"a": 8}, {"a": 7}, 1e-9) != []
    assert checks.stream_progress_problems([5, 5], 10, 2) == []
    assert checks.stream_progress_problems([5, 4], 10, 2) != []


def test_oracle_comparison_catches_a_dropped_row():
    oracle = pd.DataFrame(
        {"k": ["x", "y", "z"], "n": [1, 2, 3], "v": [0.5, 1.25, None],
         "ts": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03"])}
    )
    shuffled = oracle.iloc[[2, 0, 1]].reset_index(drop=True)
    assert checks.frame_problems(shuffled, oracle) == []
    assert checks.frame_problems(shuffled.iloc[1:], oracle) != []
    changed = shuffled.copy()
    changed.loc[0, "n"] = 4
    assert checks.frame_problems(changed, oracle) != []


def test_generator_is_a_function_of_the_seed():
    for workload in ("query_suite", "stream_state"):
        with tempfile.TemporaryDirectory() as tmp:
            a, b, c = (os.path.join(tmp, x) for x in "abc")
            gen.generate(workload, 3, a)
            gen.generate(workload, 3, b)
            gen.generate(workload, 4, c)
            files = sorted(os.listdir(a))
            match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            assert mismatch == [] and errors == [] and len(match) == len(files)
            parquet = [f for f in files if f.endswith(".parquet")]
            _, differ, _ = filecmp.cmpfiles(a, c, parquet, shallow=False)
            assert differ == parquet
