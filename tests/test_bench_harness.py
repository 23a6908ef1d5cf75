"""bench.py's shared harness: the timing loop every tool times through
returns one sample per run and leaves no query state behind, and importing
bench (as tests and tools do for HEADLINE and the helpers) starts no Spark."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

import pytest

import bench
from bloom_filters_count_min_sketch_spark_streaming_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# a batch headliner that leaves a persisted RDD, one whose sketch table is
# written at rest, and a streaming one that registers its checkpoint dir
@pytest.mark.parametrize(
    "name", ["kmeans_embeddings", "cms_sketch_table_merge", "stream_windowed_counts"]
)
def test_time_query_samples_every_run_and_releases_state(spark, sf_dir, name):
    import __spark_entry__ as e

    assert name in bench.HEADLINE
    before = set(os.listdir(tempfile.gettempdir()))
    samples = bench.time_query(spark, e.queries()[name], sf_dir, bench.runs_for(name))
    assert len(samples) == bench.runs_for(name) == (3 if name.startswith("stream_") else 2)
    assert all(s > 0 for s in samples)
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
    assert session._TMP_SNAPSHOT_DIRS == []
    left = set(os.listdir(tempfile.gettempdir())) - before
    assert not [d for d in left if d.startswith("bfcms_sktab_")], left


def test_import_bench_starts_no_spark():
    code = (
        "import bench\n"
        "from pyspark import SparkContext\n"
        "assert SparkContext._gateway is None and SparkContext._active_spark_context is None\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True, timeout=300)
