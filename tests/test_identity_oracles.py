"""The engine's identity queries checked against their DuckDB oracles.

One query per family the engine is named for (Bloom, Count-Min, heavy
hitters, counting Bloom, stateful streaming, multi-batch replay, LSH dedup,
ANN) plus the relational flagships, each run at sf0.01 and compared exactly
as ``tools/check_oracle.py`` compares the full registry.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import check_oracle  # noqa: E402

IDENTITY_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "bloom_membership",
    "bloom_prefilter_join_counts",
    "cms_event_type_freq",
    "heavy_hitters_approx",
    "counting_bloom_delete_membership",
    "stream_windowed_counts",
    "stream_stateful_cms_per_key",
    "stream_4batch_replay_trajectory",
    "stream_minhash_lsh_dedup",
    "dedup_minhash_lsh_pairs",
    "knn_cosine_bruteforce",
]


@pytest.fixture(scope="module")
def oracle_env(sf_dir):
    import __spark_entry__ as e

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    return sf, e.queries(), e.oracle_sql(), check_oracle.duckdb_views(sf)


@pytest.mark.parametrize("name", IDENTITY_QUERIES)
def test_identity_query_matches_oracle(spark, oracle_env, name):
    sf, queries, oracles, con = oracle_env
    assert name in oracles, f"{name} lost its oracle"
    try:
        got = queries[name](spark, sf).toPandas()
    finally:
        check_oracle.release_query_state(spark)
    problems = check_oracle.compare(got, con.sql(oracles[name]).df())
    assert not problems, "\n".join(problems)
