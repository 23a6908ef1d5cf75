"""The engine's identity queries checked against their DuckDB oracles.

One query per family the engine is named for (Bloom, Count-Min, heavy
hitters, counting Bloom, stateful streaming, multi-batch replay, LSH dedup,
ANN) plus the relational flagships, and every other oracle-checked query
whose plan runs through ``streaming/stateful.py:keyed_fold``, each run at
sf0.01 and compared exactly as ``tools/check_oracle.py`` compares the full
registry.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import check_oracle  # noqa: E402

from bloom_filters_count_min_sketch_spark_streaming_spark.session import release_query_state  # noqa: E402

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

# the remaining oracle-checked queries that reach keyed_fold: every
# stateful operator but the timeout sessionizer is covered by one of these
# or by the identity list above
STATEFUL_QUERIES = [
    "stream_stateful_running_counts",
    "stream_stateful_bloom_distinct",
    "stream_counting_bloom_retraction",
    "stream_generational_bloom_dedup",
    "stream_generational_kmv_distinct",
    "stream_asof_enrichment",
    "stream_range_count_enrichment",
    "stream_dgim_saturated_exact",
    "stream_misra_gries_topk",
    "stream_bottomk_sample",
    "stream_cusum_changepoint",
    "stream_sprt_early_stop",
    "stream_iblt_replication_audit",
    "stream_token_bucket_quota",
    "stream_inverse_reduce_window",
    "stream_ewma_control_chart",
    "stream_spacesaving_topk",
    "stream_ols_trend",
    "stream_eh_saturated_exact",
    "stream_sbf_decayless_exact",
    "stream_kll_saturated_exact",
    "stream_triest_saturated_exact",
    "stream_adwin_stationary_exact",
    "stream_tdigest_saturated_exact",
    "stream_hierarchical_heavy_hitters",
    "stream_page_hinkley",
    "stream_roc_auc",
    "stream_model_monitoring_funnel",
    "stream_lossy_counting_topk",
    "stream_vocab_coverage",
    "stream_decision_stump",
    "stream_priority_sample",
    "stream_rocksdb_stateful_counts",
    "stream_cms_join_size",
    "stream_winnowing_contamination",
]


@pytest.fixture(scope="module")
def oracle_env(sf_dir):
    import __spark_entry__ as e

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    return sf, e.queries(), e.oracle_sql(), check_oracle.duckdb_views(sf)


@pytest.mark.parametrize("name", IDENTITY_QUERIES + STATEFUL_QUERIES)
def test_identity_query_matches_oracle(spark, oracle_env, name):
    sf, queries, oracles, con = oracle_env
    assert name in oracles, f"{name} lost its oracle"
    try:
        got = queries[name](spark, sf).toPandas()
    finally:
        release_query_state(spark)
    problems = check_oracle.compare(got, con.sql(oracles[name]).df())
    assert not problems, "\n".join(problems)
