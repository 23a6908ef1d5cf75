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


def test_scaling_probe_merge_rewrites_header_and_pads_old_rows():
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import scaling_probe

    old_q3 = "| q3_shipping_priority | 0.50 /x1.6 | 0.59 /x1.1 | 0.75 /x1.5 | 1.5x |"
    stress = (
        "## 10x stress\n\n| query | sf0.1 s /spread | 10x s /spread | ratio |\n|---|---|---|---|\n"
        "| q3_shipping_priority | 1.04 /x1.8 | 1.48 /x1.4 | 1.4x |\n"
    )
    prev = (
        "# Scaling probe\n\n| table | sf0.001 | sf0.01 | sf0.1 |\n|---|---|---|---|\n"
        "| lineitem | 6,000 | 60,000 | 600,000 |\n\n"
        "| query | sf0.001 s /spread | sf0.01 s /spread | sf0.1 s /spread | T(0.1)/T(0.001) |\n"
        "|---|---|---|---|---|\n"
        "| q1_pricing_summary | 0.44 /x2.4 | 0.39 /x1.2 | 0.98 /x1.0 | 2.2x |\n" + old_q3 + "\n\n" + stress
    )
    header = "| query | sf0.001 s /spread @cal | sf0.01 s /spread @cal | sf0.1 s /spread @cal | T(0.1)/T(0.001) | cal-adj |"
    q1 = "| q1_pricing_summary | 1.00 /x1.0 @0.20 | 1.00 /x1.0 @0.20 | 2.00 /x1.0 @0.20 | 2.0x | 2.0x |"
    new = "| brand_new_probe | 1.00 /x1.0 @0.20 | 1.00 /x1.0 @0.20 | 1.00 /x1.0 @0.20 | 1.0x | 1.0x |"
    fresh = ["# Scaling probe", "", header, "|---|---|---|---|---|---|", q1, new, ""]
    merged, n = scaling_probe.merge_probe_rows(prev, fresh)
    assert n == 2
    table = "\n".join([header, "|---|---|---|---|---|---|", q1, old_q3 + " n/a |", new])
    assert merged == prev.split("| query | sf0.001")[0] + table + "\n\n" + stress
