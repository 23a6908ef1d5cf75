"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash); ``tools/check_oracle.py`` runs the same comparison locally.

The engine lives in ``bloom_filters_count_min_sketch_spark_streaming_spark``;
queries register themselves in ``plans.registry`` (one entry per implemented
operator from SURVEY.md §2).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bloom_filters_count_min_sketch_spark_streaming_spark.plans import registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The reference's whole identity in one query: scan the events stream
    table, build a Count-Min Sketch (distributed partial aggregate), point-
    query it per distinct key, and report approximate vs exact counts for
    the heavy hitters.
    """
    from bloom_filters_count_min_sketch_spark_streaming_spark.functions.cms import (
        exact_vs_approx,
    )
    from bloom_filters_count_min_sketch_spark_streaming_spark.sources.io import load

    events = load(spark, "/root/testdata/sf0.001", "events")
    report = exact_vs_approx(events, "event_type", eps=0.0001, confidence=0.999, seed=42)
    return report.orderBy(report.exact_cnt.desc(), "event_type")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    registry.load_all_query_modules()
    return dict(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted for ops whose
    exact result is not SQL-expressible -> driver does a rows-only check)."""
    registry.load_all_query_modules()
    return dict(registry.ORACLES)
