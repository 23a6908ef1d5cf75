"""Query registry.

Every operator the engine claims (SURVEY.md §2) is exposed as a named query:
a callable ``(spark, sf_dir) -> DataFrame`` plus, where ANSI-SQL can express
the same computation, a DuckDB oracle SQL string. ``tools/check_oracle.py``
compares the two at sf0.01 (row count + schema + order-insensitive value
hash), so:

- alias every computed column identically in both
- keep results deterministic (explicit seeds, explicit tie-breaks)
- round floating aggregates so cross-engine summation order can't flip bits

``QUERIES`` and ``ORACLES`` iterate in registration order: the order in which
the ``@query`` decorators run as ``load_all_query_modules`` imports
``_QUERY_MODULES``.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Witness ledger (machine-readable, VERDICT r10 #6): every rows-only query
# (no DuckDB oracle) must either name the hash-checked exactness WITNESS that
# covers its code path in a degenerate-exact regime, or carry a documented
# impossibility reason. tests/test_witness_ledger.py walks these, so a new
# rows-only query without a marker fails CI instead of silently eroding the
# closed witness program.
WITNESSES: dict[str, str] = {}
NO_WITNESS_REASONS: dict[str, str] = {}

# Modules that register queries on import.
_QUERY_MODULES = [
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.relational",
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.relational_deep",
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.misc_queries",
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.semistructured_queries",
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.sketch_queries",
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.text_queries",
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.dedup_queries",
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.vector_queries",
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.streaming_queries",
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.pipeline_queries",
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.quality_queries",
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.graph_queries",
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.eval_queries",
]


def query(
    name: str,
    oracle: str | None = None,
    witness: str | None = None,
    no_witness_reason: str | None = None,
) -> Callable[[QueryFn], QueryFn]:
    """Register a named query, optionally with its DuckDB oracle SQL.

    Rows-only queries (``oracle=None``) MUST declare exactly one of:

    - ``witness``: the name of the oracle-backed exactness witness that runs
      the same code path in a regime where the approximation provably
      degenerates to exact (saturation / closed-form low-dim / identity);
    - ``no_witness_reason``: why no such regime exists (documented
      impossibility — e.g. a sampling estimator, or zlib with no SQL twin).

    Enforced by tests/test_witness_ledger.py against the live registry.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if witness is not None:
            WITNESSES[name] = witness
        if no_witness_reason is not None:
            NO_WITNESS_REASONS[name] = no_witness_reason
        return fn

    return deco


def load_all_query_modules() -> None:
    """Import every query module; each registers its queries on import, so
    the registry's iteration order is registration order."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
