"""Table sources.

The fixture layout is one parquet file per table under a scale-factor
directory (TESTDATA.md). ``load`` is the single scan entry point so that
every query inherits the same reader behavior (vectorized parquet scan,
predicate pushdown, column pruning — all Catalyst defaults).

At 100 TB each "file" becomes a directory of many parquet files /
partitions; ``spark.read.parquet`` handles both shapes identically, so
nothing here changes at scale.
"""

from __future__ import annotations

import logging
import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Columnar vectorized read; filters and column
    pruning push into this scan automatically (verify with .explain).

    ``events.ts`` is parquet TIMESTAMP(NANOS). Depending on the session's
    history it surfaces as one of three Spark types (4.1 reads it natively
    as TIMESTAMP_NTZ truncated to micros; a session that ever read it under
    ``spark.sql.legacy.parquet.nanosAsLong`` sees raw-nanos LONG, and that
    per-path schema inference is cached per session, so read order — not
    this function — decides which). Normalize every shape to the same
    microsecond TIMESTAMP so downstream queries and oracles are identical:
    DuckDB applies the same floor-to-micros truncation.
    """
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        dt = df.schema["ts"].dataType
        if isinstance(dt, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(dt, TimestampNTZType):
            # Session tz is UTC in our factory; the cast keeps wall-clock,
            # which is what the fixtures encode and DuckDB returns.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def input_bytes(df: DataFrame) -> int:
    """Total on-disk bytes of the files ``df`` scans, for sizing partition
    counts from input volume. 0 when the size is unknowable: a non-``file:``
    source, or a failed stat or URI parse (logged at debug, so a broken probe
    on a new source type is visible rather than silently wrong)."""
    total = 0
    try:
        for uri in df.inputFiles():
            if not uri.startswith("file:"):
                return 0
            total += os.path.getsize(unquote(urlparse(uri).path))
    except (OSError, ValueError) as exc:
        logging.getLogger(__name__).debug("input size probe failed: %s", exc)
        return 0
    return total


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql() queries work."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
