"""Remaining SURVEY §2.B coverage: cross/theta joins, offset, the full
analytic-window family, math/map function families, UDF / pandas-UDF /
grouped-agg UDAF / UDTF entry points, non-parquet source roundtrips, and
embedding aggregate ops (D6).
"""

from __future__ import annotations

import math
import os
import tempfile

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from bloom_filters_count_min_sketch_spark_streaming_spark.plans.registry import query
from bloom_filters_count_min_sketch_spark_streaming_spark.session import tmp_snapshot_dir
from bloom_filters_count_min_sketch_spark_streaming_spark.sources.io import load


def _path_fingerprint(path: str) -> str:
    """Cheap content fingerprint of a parquet file or directory: hash of
    every part's (name, size, mtime_ns). Used to key derived temp copies
    so a fixture refresh invalidates them instead of being silently
    shadowed by a stale cache."""
    import hashlib

    h = hashlib.sha256()
    if os.path.isdir(path):
        for entry in sorted(os.listdir(path)):
            st = os.stat(os.path.join(path, entry))
            h.update(f"{entry}:{st.st_size}:{st.st_mtime_ns};".encode())
    else:
        st = os.stat(path)
        h.update(f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:12]


# --- B8 cross join & theta join ---------------------------------------------


@query(
    "cross_join_region_segments",
    oracle="""
    SELECT r_name, seg, COUNT(*) AS n
    FROM region CROSS JOIN (SELECT DISTINCT c_mktsegment AS seg FROM customer)
    GROUP BY r_name, seg
    """,
)
def cross_join_region_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two small dims (BroadcastNestedLoopJoin)."""
    region = load(spark, sf_dir, "region")
    segs = load(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg")
    ).distinct()
    return region.crossJoin(segs).groupBy("r_name", "seg").agg(F.count(F.lit(1)).alias("n"))


@query(
    "theta_join_nation_pairs",
    oracle="""
    SELECT a.n_name AS nation_a, b.n_name AS nation_b
    FROM nation a JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    """,
)
def theta_join_nation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join (inequality condition alongside an equi-key)."""
    n = load(spark, sf_dir, "nation")
    a = n.select(F.col("n_name").alias("nation_a"), F.col("n_regionkey").alias("rk_a"), F.col("n_nationkey").alias("nk_a"))
    b = n.select(F.col("n_name").alias("nation_b"), F.col("n_regionkey").alias("rk_b"), F.col("n_nationkey").alias("nk_b"))
    return a.join(b, (F.col("rk_a") == F.col("rk_b")) & (F.col("nk_a") < F.col("nk_b"))).select(
        "nation_a", "nation_b"
    )


# --- B19 offset --------------------------------------------------------------


@query(
    "sort_limit_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10 OFFSET 5
    """,
)
def sort_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY ... OFFSET ... LIMIT with a total tie-break."""
    return (
        load(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .offset(5)
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


# --- B16/B17 full analytic window family -------------------------------------


@query(
    "window_analytics_family",
    oracle="""
    SELECT o_orderkey,
           NTILE(4)       OVER w AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST()    OVER w AS cume,
           FIRST_VALUE(o_orderkey) OVER w AS first_key,
           NTH_VALUE(o_orderkey, 2) OVER w AS second_key
    FROM orders
    WHERE o_custkey < 40
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def window_analytics_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist / first_value / nth_value in one
    pass (single shuffle + sort per partition key)."""
    # rank-family functions require the default (RANGE) frame; value
    # functions get an explicit ROWS frame — same ordering, two specs.
    w_rank = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    w_rows = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 40)
        .select(
            "o_orderkey",
            F.ntile(4).over(w_rank).alias("quartile"),
            F.percent_rank().over(w_rank).alias("pct_rank"),
            F.cume_dist().over(w_rank).alias("cume"),
            F.first("o_orderkey").over(w_rows).alias("first_key"),
            F.nth_value("o_orderkey", 2).over(w_rows).alias("second_key"),
        )
    )


# --- B26 math functions -------------------------------------------------------


@query(
    "math_function_family",
    # Determinism: each float term is ROUNDed to a fixed scale FIRST, then
    # summed as DECIMAL (exact, order-independent), then cast to DOUBLE.
    # Rounding the float SUM instead (round 1) was boundary-luck: cross-engine
    # summation-order noise flipped the last digit (driver hash_match=false).
    oracle="""
    SELECT p_brand,
           CAST(SUM(CAST(ROUND(ln(p_retailprice), 6) AS DECIMAL(28, 6))) AS DOUBLE) AS sum_ln,
           CAST(SUM(CAST(ROUND(sqrt(p_size), 6) AS DECIMAL(28, 6))) AS DOUBLE) AS sum_sqrt,
           CAST(SUM(CAST(p_size AS BIGINT) * p_size) AS BIGINT) AS sum_sq,
           CAST(SUM(CAST(abs(p_size - 25) AS BIGINT)) AS BIGINT) AS sum_absdev,
           CAST(SUM(CASE WHEN p_size % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even,
           CAST(SUM(CAST(ROUND(p_retailprice / NULLIF(p_size, 0), 6) AS DECIMAL(28, 6))) AS DOUBLE) AS sum_ratio
    FROM part GROUP BY p_brand
    """,
)
def math_function_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ln/sqrt/pow/abs/mod/try_divide over part, aggregated per brand.
    (try_divide's null-on-zero maps to NULLIF in the oracle.)"""
    part = load(spark, sf_dir, "part")
    dec = "decimal(28,6)"
    return part.groupBy("p_brand").agg(
        F.sum(F.round(F.log("p_retailprice"), 6).cast(dec)).cast("double").alias("sum_ln"),
        F.sum(F.round(F.sqrt("p_size"), 6).cast(dec)).cast("double").alias("sum_sqrt"),
        F.sum(F.col("p_size").cast("long") * F.col("p_size")).alias("sum_sq"),
        F.sum(F.abs(F.col("p_size") - 25).cast("long")).alias("sum_absdev"),
        F.sum(F.when(F.col("p_size") % 2 == 0, 1).otherwise(0)).alias("n_even"),
        F.sum(
            F.round(F.try_divide("p_retailprice", F.col("p_size").cast("double")), 6).cast(dec)
        )
        .cast("double")
        .alias("sum_ratio"),
    )


# --- B28/B29 map functions over semi-structured props -------------------------


@query(
    "map_props_exploded",
    oracle="""
    SELECT event_type, 'k' AS prop_key,
           -- DuckDB SUM(BIGINT) -> HUGEINT; cast back so both engines emit int64
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS total_v
    FROM events GROUP BY event_type
    """,
)
def map_props_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json to MapType + explode(map) + aggregation — the MapType
    surface over the semi-structured props column."""
    ev = load(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    exploded = ev.select("event_type", F.explode(m).alias("prop_key", "v"))
    return exploded.groupBy("event_type", "prop_key").agg(F.sum("v").alias("total_v"))


# --- B31 row UDF / vectorized pandas UDF -------------------------------------


@query(
    "python_udf_rowwise",
    oracle="""
    SELECT p_partkey,
           length(p_name) + CASE WHEN p_type = 'PROMO' THEN 100 ELSE 0 END AS feature
    FROM part WHERE p_partkey < 200
    """,
)
def python_udf_rowwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (the deliberately-slow path, kept off hot
    loops; here over a 200-row slice to exercise the entry point)."""

    @F.udf("long")
    def feature(name: str, ptype: str) -> int:
        return len(name) + (100 if ptype == "PROMO" else 0)

    part = load(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    return part.select("p_partkey", feature("p_name", "p_type").alias("feature"))


@query(
    "pandas_udf_vectorized",
    oracle="""
    SELECT p_partkey, ROUND(ln(1.0 + p_retailprice), 6) AS log_price
    FROM part
    """,
)
def pandas_udf_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched scalar pandas UDF (the fast Python path): numpy log1p.
    Rounded so libm-vs-numpy last-bit differences can't flip the hash."""

    @F.pandas_udf(DoubleType())
    def log_price(p: pd.Series) -> pd.Series:
        return pd.Series(np.log1p(p.to_numpy()))

    part = load(spark, sf_dir, "part")
    return part.select("p_partkey", F.round(log_price("p_retailprice"), 6).alias("log_price"))


# --- B32 grouped-agg UDAF -----------------------------------------------------


@query(
    "pandas_udaf_weighted_price",
    oracle="""
    WITH t AS (
        SELECT p_brand,
               CAST(SUM(CAST(ROUND(p_retailprice * 100) AS BIGINT) * p_size) AS BIGINT) AS num,
               CAST(SUM(p_size) AS BIGINT) AS den
        FROM part GROUP BY p_brand
    )
    SELECT p_brand, ((num * 200 + den) // (2 * den)) / 10000.0 AS weighted_price
    FROM t
    """,
)
def pandas_udaf_weighted_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF (custom UDAF): size-weighted mean price.

    Exactness: prices are 2-decimal, so the ratio is computed on integer
    cents with explicit half-up rounding at scale 4 — sum order can't move
    the result, and both engines divide the same exact integer by 1e4.
    (The naive ROUND(SUM(p*s)/SUM(s), 4) form landed ~1e-10 from a .00005
    boundary on this fixture — luck-dependent across engines.)"""

    @F.pandas_udf(DoubleType())
    def weighted(price: pd.Series, size: pd.Series) -> float:
        cents = np.rint(price.to_numpy(np.float64) * 100).astype(np.int64)
        sizes = size.to_numpy(np.int64)
        num, den = int((cents * sizes).sum()), int(sizes.sum())
        e4 = (num * 200 + den) // (2 * den)  # round_half_up(num*100/den)
        return e4 / 10000.0

    part = load(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        weighted("p_retailprice", "p_size").alias("weighted_price")
    )


# --- B33 UDTF -----------------------------------------------------------------


@query(
    "udtf_power_series",
    oracle="""
    SELECT n, n * n AS sq, CAST(pow(2, n) AS BIGINT) AS pow2
    FROM range(1, 17) t(n)
    """,
)
def udtf_power_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function): emits a deterministic series."""

    @F.udtf(returnType="n bigint, sq bigint, pow2 bigint")
    class PowerSeries:
        def eval(self, start: int, stop: int):
            for n in range(start, stop):
                yield n, n * n, 2**n

    return PowerSeries(F.lit(1), F.lit(17))


# --- B2/B3 non-parquet sources & sinks ---------------------------------------


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str, **read_opts) -> DataFrame:
    src = load(spark, sf_dir, "nation")
    out = tmp_snapshot_dir(prefix=f"bfcms_rt_{fmt}_")
    src.coalesce(1).write.mode("overwrite").format(fmt).options(**read_opts).save(out)
    return (
        spark.read.format(fmt)
        .options(**read_opts)
        .schema(src.schema)
        .load(out)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@query("source_roundtrip_csv", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def source_roundtrip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source roundtrip (explicit schema on read)."""
    return _roundtrip(spark, sf_dir, "csv", header="true")


@query("source_roundtrip_json", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def source_roundtrip_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source roundtrip."""
    return _roundtrip(spark, sf_dir, "json")


@query("source_roundtrip_orc", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def source_roundtrip_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source roundtrip (columnar alternative to parquet)."""
    return _roundtrip(spark, sf_dir, "orc")


@query("source_roundtrip_xml", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def source_roundtrip_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + source roundtrip (built-in since Spark 4; rowTag-scoped
    streaming StAX parse on read, schema declared explicitly). Avro is the
    one standard format NOT exercised: its data source module is external
    and absent from this environment's classpath (verified
    DATA_SOURCE_NOT_FOUND) — env-blocked, like protobuf/TWS."""
    return _roundtrip(spark, sf_dir, "xml", rowTag="nation")


@query("source_roundtrip_text", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def source_roundtrip_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-line sink + source roundtrip (the reference's native input
    format): one delimited line per row on write, parse-on-read with
    JVM-side split/cast — the line-oriented ingest path a socket/text
    stream source would feed."""
    src = load(spark, sf_dir, "nation")
    out = tmp_snapshot_dir(prefix="bfcms_rt_text_")
    src.select(
        F.concat_ws("|", F.col("n_nationkey"), F.col("n_name"), F.col("n_regionkey")).alias("value")
    ).coalesce(1).write.mode("overwrite").format("text").save(out)
    parts = F.split(F.col("value"), r"\|")
    return spark.read.text(out).select(
        parts.getItem(0).cast("int").alias("n_nationkey"),
        parts.getItem(1).alias("n_name"),
        parts.getItem(2).cast("int").alias("n_regionkey"),
    )


@query("source_roundtrip_jdbc", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def source_roundtrip_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC sink + source roundtrip against embedded Derby (B2).

    Write: df.write.jdbc (executors each open a connection and batch-insert
    their partition). Read: spark.read.jdbc with column/bounds/numPartitions
    so the scan is issued as N range-predicate queries in parallel — the
    shape a 100 TB ingest from an operational DB needs (each task pulls its
    own key range; no single-connection bottleneck).
    """
    db_dir = os.path.join(
        tempfile.gettempdir(), f"bfcms_derby_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    url = f"jdbc:derby:{db_dir};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    src = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    (
        src.write.mode("overwrite")
        # Derby's default Spark mapping for StringType is CLOB; force a
        # comparable VARCHAR so the read-back column is a plain string.
        .option("createTableColumnTypes", "n_name VARCHAR(64)")
        .jdbc(url, "nation_rt", properties=props)
    )
    return (
        spark.read.option("partitionColumn", "n_nationkey")
        .option("lowerBound", "0")
        .option("upperBound", "32")
        .option("numPartitions", "4")
        .jdbc(url, "nation_rt", properties=props)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


# --- B24 string-similarity functions -----------------------------------------


@query(
    "string_similarity_pairs",
    oracle="""
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           levenshtein(a.p_name, b.p_name) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE a.p_partkey < 100 AND b.p_partkey < 100
      AND levenshtein(a.p_name, b.p_name) <= 5
    """,
)
def string_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join (brand-bucketed so the pair space is
    bounded — the fuzzy-matching counterpart of the token-set dedup)."""
    part = load(spark, sf_dir, "part").filter(F.col("p_partkey") < 100)
    a = part.select(F.col("p_partkey").alias("key_a"), F.col("p_brand").alias("brand"), F.col("p_name").alias("name_a"))
    b = part.select(F.col("p_partkey").alias("key_b"), F.col("p_brand").alias("brand"), F.col("p_name").alias("name_b"))
    return (
        a.join(b, "brand")
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", F.levenshtein("name_a", "name_b").alias("edit_dist"))
        .filter(F.col("edit_dist") <= 5)
    )


# --- B25 time-series gap fill -------------------------------------------------


@query(
    "timeseries_gap_fill_daily",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('day', MIN(ts)) AS lo, date_trunc('day', MAX(ts)) AS hi
      FROM events
    ),
    slots AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM bounds
    ),
    actual AS (
      SELECT date_trunc('day', ts) AS day, COUNT(*) AS n
      FROM events WHERE event_type = 'error' GROUP BY 1
    )
    SELECT s.day, COALESCE(a.n, 0) AS n_errors
    FROM slots s LEFT JOIN actual a ON s.day = a.day
    """,
)
def timeseries_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily series with zero-filled gaps: sequence() over the
    min/max bounds (a 1-row broadcast), exploded into slots, left-joined
    against actual counts. The standard resample/gap-fill shape."""
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("lo"),
        F.date_trunc("day", F.max("ts")).alias("hi"),
    )
    slots = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    actual = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return slots.join(actual, "day", "left").select(
        "day", F.coalesce("n", F.lit(0)).alias("n_errors")
    )


# --- A9-adjacent: SQL percentile_approx --------------------------------------


@query(
    "percentile_approx_by_type",
    oracle="""
    SELECT event_type,
           quantile_disc(value, 0.5) AS p50,
           quantile_disc(value, 0.95) AS p95
    FROM events GROUP BY event_type
    """,
)
def percentile_approx_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped percentile_approx (the SQL aggregate twin of the GK stat
    API). High accuracy parameter -> exact discrete quantiles at fixture
    cardinality; the approximate regime is covered by property tests."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 1_000_000).alias("p50"),
        F.percentile_approx("value", 0.95, 1_000_000).alias("p95"),
    )


# --- A6 mergeable top-k sketch pipeline --------------------------------------


@query(
    "mergeable_topk_pipeline",
    oracle="""
    SELECT event_type AS item, COUNT(*) AS est_count
    FROM events GROUP BY event_type
    ORDER BY est_count DESC, item LIMIT 3
    """,
)
def mergeable_topk_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-as-a-column workflow: per-partition approx_top_k_accumulate
    partial states -> approx_top_k_combine -> estimate. This is how top-k
    states persist/merge across jobs or days at 100 TB (store the binary
    state, combine incrementally). Exact at fixture cardinality -> exact
    oracle."""
    ev = load(spark, sf_dir, "events")
    partials = ev.groupBy((F.col("user_id") % 8).alias("shard")).agg(
        F.expr("approx_top_k_accumulate(event_type, 10)").alias("state")
    )
    combined = partials.agg(
        F.expr("approx_top_k_estimate(approx_top_k_combine(state), 3)").alias("topk")
    )
    return (
        combined.select(F.explode("topk").alias("e"))
        .select(F.col("e.item").alias("item"), F.col("e.count").alias("est_count"))
        .orderBy(F.desc("est_count"), F.asc("item"))
    )


# --- B6 right outer join ------------------------------------------------------


@query(
    "right_join_order_counts",
    oracle="""
    SELECT n_name, COUNT(o_orderkey) AS n_orders
    FROM orders o
    RIGHT JOIN customer c ON o.o_custkey = c.c_custkey AND o.o_totalprice > 450000
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def right_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join with a join-side predicate (kept in the ON clause,
    so customers without big orders still appear with count 0)."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = F.broadcast(load(spark, sf_dir, "nation"))
    joined = orders.join(
        cust,
        (orders.o_custkey == cust.c_custkey) & (orders.o_totalprice > 450000),
        "right_outer",
    ).join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
    return joined.groupBy("n_name").agg(F.count("o_orderkey").alias("n_orders"))


# --- B21 bag-semantics set ops ------------------------------------------------


@query(
    "setop_bag_semantics",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_custkey < 300
    INTERSECT ALL
    SELECT s_nationkey FROM supplier
    """,
)
def setop_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiplicity-preserving intersection)."""
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 300)
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersectAll(s)


@query(
    "setop_except_all",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_custkey < 300
    EXCEPT ALL
    SELECT s_nationkey FROM supplier
    """,
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiplicity-preserving difference)."""
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 300)
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.exceptAll(s)


# --- B16-B18 batch sessionization (gaps-and-islands) --------------------------


@query(
    "sessionization_batch",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_type,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                       OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), islands AS (
      SELECT user_id, ts, event_type,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM ordered
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases
    FROM islands
    GROUP BY user_id, session_id
    """,
)
def sessionization_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization via gaps-and-islands (lag -> flag -> running
    sum -> group): the batch twin of the streaming session_window, with
    per-session behavioral aggregates."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact gap comparison (cast to double keeps the fractional
    # second; a long cast would truncate and diverge from the oracle's
    # interval arithmetic at sub-second boundaries)
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | ((F.col("ts").cast("double") - F.lag("ts").over(w).cast("double")) > 1800.0),
            1,
        ).otherwise(0),
    )
    w_run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    islands = flagged.withColumn("session_id", F.sum("new_session").over(w_run))
    return islands.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_purchases"),
    )


# --- D6 embedding aggregate ops ----------------------------------------------


@query(
    "embedding_label_distances",
    oracle="""
    WITH cent AS (
      SELECT label, dim - 1 AS dim, SUM(x) / COUNT(*) AS c
      FROM (SELECT label, unnest(embedding::DOUBLE[]) AS x,
                   generate_subscripts(embedding, 1) AS dim
            FROM embeddings)
      GROUP BY label, dim
    )
    SELECT a.label AS label_a, b.label AS label_b,
           ROUND(sqrt(SUM((a.c - b.c) * (a.c - b.c))), 4) AS l2_dist
    FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
    GROUP BY a.label, b.label
    """,
)
def embedding_label_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise L2 distance between per-label centroids: posexplode ->
    centroid agg -> dim-aligned self-join -> distance agg. All shuffles are
    on (label, dim) scalars — never whole vectors."""
    emb = load(spark, sf_dir, "embeddings")
    cent = (
        emb.select("label", F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias("dim", "x"))
        .groupBy("label", "dim")
        .agg((F.sum("x") / F.count(F.lit(1))).alias("c"))
    )
    a = cent.select(F.col("label").alias("label_a"), "dim", F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), "dim", F.col("c").alias("cb"))
    return (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.round(F.sqrt(F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")))), 4).alias("l2_dist"))
    )


@query(
    "window_range_frame_sum",
    oracle="""
    SELECT o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice
             RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS nearby_total
    FROM orders
    """,
)
def window_range_frame_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame spec (B18): per customer, the sum of order totals
    within 1000 currency units below the current order's value. A RANGE
    frame is defined by the ORDER BY *values* (peers included), so the
    result is deterministic without a positional tie-break — both engines
    resolve the frame identically."""
    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-1000, Window.currentRow)
    )
    return orders.select(
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .over(w)
        .cast("double")
        .alias("nearby_total"),
    )


@query(
    "date_function_family",
    oracle="""
    SELECT date_part('dow', o_orderdate) AS dow,
           COUNT(*) AS n_orders,
           CAST(SUM(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)) AS BIGINT) AS total_days_since,
           CAST(SUM(CASE WHEN last_day(CAST(o_orderdate AS DATE)) = CAST(o_orderdate AS DATE)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_month_end
    FROM orders GROUP BY 1
    """,
)
def date_function_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar family (B25): day-of-week bucketing (Spark's
    1=Sunday convention shifted to DuckDB's 0=Sunday), day diffs against
    an epoch, month-end detection via last_day."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy(
        (F.dayofweek("o_orderdate") - 1).cast("long").alias("dow")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        ).cast("long").alias("total_days_since"),
        F.sum(
            F.when(
                F.last_day("o_orderdate") == F.to_date("o_orderdate"), 1
            ).otherwise(0)
        ).alias("n_month_end"),
    )


@query(
    "array_function_family",
    oracle="""
    WITH per_user AS (
      SELECT user_id, list_sort(list_distinct(list(event_type))) AS types
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           len(types) AS n_types,
           CASE WHEN list_contains(types, 'purchase') THEN 1 ELSE 0 END AS has_purchase,
           array_to_string(types[1:2], ',') AS first_two
    FROM per_user
    """,
)
def array_function_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar family (B27): collect_set -> sort_array gives a
    deterministic per-user array despite unordered aggregation; size /
    array_contains / slice / array_join all JVM-side."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("types")
    )
    return per_user.select(
        "user_id",
        F.size("types").cast("long").alias("n_types"),
        F.when(F.array_contains("types", "purchase"), 1).otherwise(0).alias("has_purchase"),
        F.array_join(F.slice("types", 1, 2), ",").alias("first_two"),
    )


@query(
    "sink_partitioned_pruned_scan",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders
    WHERE strftime(o_orderdate, '%Y-%m') = '1997-03'
    GROUP BY o_orderstatus
    """,
)
def sink_partitioned_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned sink + partition-pruned read-back (B3 at scale).

    Writes orders partitioned by month (``partitionBy('o_month')``) — the
    storage layout a 100 TB fact table actually uses — then reads back with
    an equality filter on the partition column. Catalyst resolves the filter
    against the directory listing (PartitionFilters), so the scan touches ONE
    month's files regardless of table size; `test_partitioned_sink_prunes`
    asserts the plan shape.
    """
    src = load(spark, sf_dir, "orders")
    out = tmp_snapshot_dir(prefix="bfcms_part_orders_")
    src.withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM")).write.mode(
        "overwrite"
    ).partitionBy("o_month").parquet(out)
    back = spark.read.parquet(out).filter(F.col("o_month") == "1997-03")
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("total"),
    )


# --- deterministic distributed sampling + batch sessionization ---------------


@query(
    "sample_hashmin_per_group",
    oracle="""
    -- hash-min sampling: rank rows inside each group by a content hash and
    -- keep the k smallest — a deterministic, engine-portable "uniform"
    -- sample (md5 is identical everywhere, unlike engine RNGs)
    SELECT event_type, event_id
    FROM events
    QUALIFY row_number() OVER (
      PARTITION BY event_type
      ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
    ) <= 5
    """,
)
def sample_hashmin_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sampling by hash-min ranking: order each
    group by md5(id) (a uniform-ish permutation that every engine computes
    identically) and keep the first k. Unlike seeded RNG sampling this is
    reproducible across engines, retries, AND incremental reruns — the
    property a training-data pipeline needs for auditable subsampling. One
    hash-partitioned window, no driver involvement."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 5)
        .select("event_type", "event_id")
    )


@query(
    "zorder_cluster_keys",
    oracle="""
    -- Morton interleave is pure integer bit math: identical in both
    -- engines. Per-row z-keys aggregated to 64 coarse cells.
    WITH t AS (
      SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y FROM lineitem
    ), bits AS (SELECT unnest(range(0, 10)) AS i),
    keyed AS (
      SELECT CAST(SUM((((x >> i) & 1) << (2 * i)) + (((y >> i) & 1) << (2 * i + 1)))
                  AS BIGINT) AS zkey
      FROM (SELECT row_number() OVER () AS rid, x, y FROM t) r
      CROSS JOIN bits
      GROUP BY rid
    )
    SELECT zkey >> 14 AS zcell, COUNT(*) AS n,
           CAST(MIN(zkey) AS BIGINT) AS min_key, CAST(MAX(zkey) AS BIGINT) AS max_key
    FROM keyed GROUP BY 1
    """,
)
def zorder_cluster_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering keys over two join keys — the layout
    substrate for multi-column data skipping (sort by zkey -> row-group
    min/max prune on EITHER column; see test_zorder_layout_prunes_row_groups
    for the measured pruning win). Key is a pure Catalyst shift/AND/OR
    expression tree, whole-stage-codegen'd."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.functions.zorder import zorder_key

    li = load(spark, sf_dir, "lineitem")
    zkey = zorder_key(
        [F.pmod(F.col("l_partkey"), F.lit(1024)), F.pmod(F.col("l_suppkey"), F.lit(1024))],
        bits=10,
    )
    return (
        li.select(zkey.alias("zkey"))
        .groupBy(F.shiftright("zkey", 14).alias("zcell"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("zkey").alias("min_key"),
            F.max("zkey").alias("max_key"),
        )
    )


@query(
    "observe_metrics_audit",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE o_totalprice > 100000) AS BIGINT)
             AS n_large,
           CAST(ROUND(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS total_price
    FROM orders
    """,
)
def observe_metrics_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability (B34) as data: an Observation attached to the
    scan records row count, predicate-hit count, and a decimal-summed
    total WHILE another consumer drains the same DataFrame — metrics come
    from the observe() side-channel (computed during the pass, no second
    scan), then surface as a 1-row result. At 100 TB this is how you audit
    a curation run without re-reading the input: the metrics ride the
    existing job."""
    from pyspark.sql import Observation

    orders = load(spark, sf_dir, "orders")
    obs = Observation("orders_audit")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_totalprice") > 100000, 1).otherwise(0))
        .cast("long")
        .alias("n_large"),
        F.round(
            F.sum(F.round(F.col("o_totalprice"), 2).cast("decimal(18,2)")), 2
        )
        .cast("double")
        .alias("total_price"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_large"], m["total_price"])],
        "n_rows BIGINT, n_large BIGINT, total_price DOUBLE",
    )


@query(
    "cogroup_customer_reconcile",
    oracle="""
    -- per-key reconciliation of two tables (events activity vs orders
    -- spend) — full-outer semantics, 2-decimal money summed exactly
    WITH e AS (
      SELECT user_id AS k, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
               AS total_event_value
      FROM events GROUP BY 1
    ), o AS (
      SELECT o_custkey AS k, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(16,2))) AS DOUBLE)
               AS total_spend
      FROM orders GROUP BY 1
    )
    SELECT COALESCE(e.k, o.k) AS user_id,
           CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
           CAST(COALESCE(n_orders, 0) AS BIGINT) AS n_orders,
           COALESCE(total_event_value, 0.0) AS total_event_value,
           COALESCE(total_spend, 0.0) AS total_spend,
           CASE WHEN COALESCE(n_orders, 0) > 0
                THEN ROUND(COALESCE(n_events, 0) * 1.0 / n_orders, 6)
           END AS events_per_order
    FROM e FULL OUTER JOIN o ON e.k = o.k
    """,
)
def cogroup_customer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map API surface (df.groupBy().cogroup().applyInPandas):
    both tables shuffle once on the key, then ONE Arrow-batched Python
    function sees each key's rows from BOTH sides — the escape hatch for
    per-key cross-table logic no join can express. Demonstrated on logic a
    full-outer join CAN express, so the whole path sits under the driver's
    value hash. Money summed as integer cents inside the UDF (exact, equal
    to the oracle's DECIMAL sums); missing side -> zeros, full-outer key
    set preserved."""
    ev = load(spark, sf_dir, "events").select("user_id", "value")
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")

    # no type hints: explicit schema + `from __future__ import annotations`
    # breaks pandas-function hint inference (CLAUDE.md)
    def reconcile(key, epdf, opdf):
        uid = int(key[0])
        n_events = len(epdf)
        n_orders = len(opdf)
        ev_cents = (
            int(np.round(epdf["value"].to_numpy(dtype=np.float64) * 100).sum())
            if n_events
            else 0
        )
        sp_cents = (
            int(np.round(opdf["o_totalprice"].to_numpy(dtype=np.float64) * 100).sum())
            if n_orders
            else 0
        )
        epo = round(n_events / n_orders, 6) if n_orders else None
        return pd.DataFrame(
            {
                "user_id": [uid],
                "n_events": [n_events],
                "n_orders": [n_orders],
                "total_event_value": [ev_cents / 100.0],
                "total_spend": [sp_cents / 100.0],
                "events_per_order": [epo],
            }
        )

    return (
        ev.groupBy("user_id")
        .cogroup(orders.groupBy("o_custkey"))
        .applyInPandas(
            reconcile,
            "user_id long, n_events long, n_orders long, "
            "total_event_value double, total_spend double, events_per_order double",
        )
    )


@query(
    "maparrow_log_value_stats",
    oracle="""
    -- per-term ROUND then DECIMAL sum (order-independent; the rounding
    -- sweep test asserts every pre-round value is far from a boundary)
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(ln(1 + value), 6) AS DECIMAL(28,6))) AS DOUBLE)
             AS sum_log1p
    FROM events GROUP BY event_type
    """,
)
def maparrow_log_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow API surface (the zero-copy tier below pandas UDFs: the
    function sees raw pyarrow RecordBatches, no pandas materialization) —
    computes round(log1p(value), 6) with Arrow compute kernels, then a
    normal JVM aggregation. Arrow-kernel math == libm, so the per-term
    ROUND -> DECIMAL-sum determinism contract is identical to the JVM
    math-function family."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ev = load(spark, sf_dir, "events").select("event_type", "value")

    # no type hints: explicit schema + `from __future__ import annotations`
    # breaks pandas/arrow UDF hint inference (CLAUDE.md)
    def transform(batches):
        for batch in batches:
            l = pc.round(pc.log1p(batch.column("value")), 6)
            yield pa.RecordBatch.from_arrays(
                [batch.column("event_type"), l], ["event_type", "l"]
            )

    mapped = ev.mapInArrow(transform, "event_type string, l double")
    return mapped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l").cast("decimal(28,6)")).cast("double").alias("sum_log1p"),
    )


@query(
    "grouped_map_interarrival",
    oracle="""
    -- per-user inter-arrival gaps: median of exact integer microsecond
    -- deltas. Kept in MICROSECONDS with no rounding: the continuous median
    -- is either an integer or an exact .5 (mid-pair mean), both exactly
    -- representable — dividing to seconds would park .5 values ON the
    -- ROUND boundary where banker's vs half-away rounding diverge.
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           median(gap_us) AS median_gap_us
    FROM g WHERE gap_us IS NOT NULL GROUP BY user_id
    """,
)
def grouped_map_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-table grouped-map API surface (groupBy().applyInPandas):
    each user's full event history arrives as one pandas frame — the shape
    for per-entity sequence features (inter-arrival gaps, session stats,
    Markov transitions) that window functions express awkwardly. Timestamps
    are converted to integer microseconds JVM-side before the UDF, so the
    Python math is exact integer deltas. One shuffle on the key; group
    sizes are per-entity event counts (bounded), never corpus-scale."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )

    # no type hints: explicit schema + `from __future__ import annotations`
    # breaks pandas-function hint inference (CLAUDE.md)
    def gaps(pdf):
        if len(pdf) < 2:
            return pd.DataFrame(
                {"user_id": pd.Series(dtype="int64"),
                 "n_gaps": pd.Series(dtype="int64"),
                 "median_gap_us": pd.Series(dtype="float64")}
            )
        s = pdf.sort_values(["ts_us", "event_id"])
        d = np.diff(s["ts_us"].to_numpy(dtype=np.int64))
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_gaps": [len(d)],
                "median_gap_us": [float(np.median(d))],
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        gaps, "user_id long, n_gaps long, median_gap_us double"
    )


@query(
    "transpose_event_metrics",
    oracle="""
    -- the metrics-by-type table flipped: one row per METRIC, one column
    -- per event type (value sums DECIMAL-exact, emitted as double)
    SELECT 'n_events' AS key,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE) AS click,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) AS error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS DOUBLE) AS signup,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS DOUBLE) AS view
    FROM events
    UNION ALL
    SELECT 'total_value',
           CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE),
           CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE),
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE),
           CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE),
           CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE)
    FROM events
    """,
)
def transpose_event_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.transpose (Spark 4.0): the per-type metrics table flipped
    so metrics are rows and event types are columns — the report-layout
    operation analysts otherwise hand-roll with N UNION ALLs. Input is the
    5-row aggregate, so the transpose is driver-cheap by construction;
    metric columns are cast to a common double type as transpose requires."""
    ev = load(spark, sf_dir, "events")
    m = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )
    return m.transpose()


@query(
    "sql_scripting_batch_report",
    oracle="""
    -- the WHILE loop computes triangular(10) = 55 procedurally; the oracle
    -- states the closed form next to the same relational aggregate
    SELECT o_orderstatus, COUNT(*) AS n_orders, 55 AS tri_check
    FROM orders GROUP BY o_orderstatus
    """,
)
def sql_scripting_batch_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4.0 SQL/PSM: BEGIN/DECLARE/WHILE/SET): a
    procedural scalar computed by a loop is joined into an ordinary
    aggregate over a real table — the migration surface for stored-
    procedure workloads. The script's control flow runs on the driver;
    the final SELECT is planned by Catalyst like any query."""
    spark.conf.set("spark.sql.scripting.enabled", "true")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        BEGIN
          DECLARE i INT DEFAULT 1;
          DECLARE tri BIGINT DEFAULT 0;
          WHILE i <= 10 DO
            SET tri = tri + i;
            SET i = i + 1;
          END WHILE;
          SELECT o_orderstatus, COUNT(*) AS n_orders, tri AS tri_check
          FROM orders_v GROUP BY o_orderstatus;
        END
        """
    )


@query(
    "arrow_python_udf_stats",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN value >= 100 THEN 2 WHEN value >= 10 THEN 1
                         ELSE 0 END) AS BIGINT) AS bucket_sum
    FROM events WHERE event_id < 2000
    GROUP BY event_type ORDER BY event_type
    """,
)
def arrow_python_udf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDF (``useArrow=True``, Spark 3.5+/4.x): the
    middle tier of the Python UDF ladder — row-wise author experience,
    Arrow-batched transfer (no pickle per row). Completes the API matrix:
    row UDF / arrow UDF / pandas UDF / mapInPandas / mapInArrow /
    applyInPandas / cogroup / UDAF / UDTF, each a registered query."""

    @F.udf("int", useArrow=True)
    def bucket(v: float) -> int:
        return 2 if v >= 100 else (1 if v >= 10 else 0)

    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    return (
        ev.select("event_type", bucket("value").alias("b"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("b").cast("long").alias("bucket_sum"))
        .orderBy("event_type")
    )


@query(
    "dpp_partitioned_join",
    oracle="""
    WITH dim(month, quarter) AS (
      VALUES ('1997-01', '1997-Q1'), ('1997-02', '1997-Q1'),
             ('1997-03', '1997-Q1'), ('1997-04', '1997-Q2'),
             ('1997-05', '1997-Q2'), ('1997-06', '1997-Q2')
    )
    SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders JOIN dim ON strftime(o_orderdate, '%Y-%m') = dim.month
    WHERE dim.quarter = '1997-Q1'
    GROUP BY 1 ORDER BY 1
    """,
)
def dpp_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the star-schema scan pattern at 100 TB.

    The fact table at rest is month-partitioned parquet (same layout as
    sink_partitioned_pruned_scan); the quarter filter lives on a DIM
    table, so no static partition filter exists at plan time. Catalyst's
    DPP injects the dim-side subquery into the fact scan's
    PartitionFilters (``dynamicpruning#``) and reuses the broadcast, so
    only the three matching month directories are read — the difference
    between scanning 3 months and scanning the whole table.
    test_dpp_prunes_fact_partitions asserts the plan shape."""
    src = load(spark, sf_dir, "orders")
    # Key the cached month-partitioned copy on a fixture fingerprint
    # (mtime_ns + size of every part file), not just the sf name: a stale
    # copy from an earlier fixture version (or a concurrent session) would
    # otherwise be reused silently whenever _SUCCESS exists and produce
    # hard-to-debug oracle mismatches.
    out = os.path.join(
        tempfile.gettempdir(),
        f"bfcms_dpp_orders_{os.path.basename(sf_dir)}_{_path_fingerprint(os.path.join(sf_dir, 'orders.parquet'))}",
    )
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        src.withColumn(
            "o_month", F.date_format("o_orderdate", "yyyy-MM")
        ).write.mode("overwrite").partitionBy("o_month").parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [
            ("1997-01", "1997-Q1"),
            ("1997-02", "1997-Q1"),
            ("1997-03", "1997-Q1"),
            ("1997-04", "1997-Q2"),
            ("1997-05", "1997-Q2"),
            ("1997-06", "1997-Q2"),
        ],
        "month string, quarter string",
    )
    return (
        fact.join(
            F.broadcast(dim),
            (fact.o_month == dim.month) & (dim.quarter == "1997-Q1"),
        )
        .groupBy("o_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("o_month")
    )


@query(
    "versioned_upsert_time_travel",
    oracle="""
    -- time travel over a versioned COW table: version v holds the merge of
    -- ingest batches 0..v (batch b = event_id % 4 = b), so reading any
    -- retained version equals the batch aggregate over its prefix
    SELECT v.version,
           CAST(COUNT(DISTINCT e.event_type) AS BIGINT) AS n_keys,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(e.value, 6) AS DECIMAL(28,6))) AS DOUBLE)
             AS total_value
    FROM (VALUES (0), (1), (2), (3)) v(version)
    JOIN events e ON e.event_id % 4 <= v.version
    GROUP BY v.version ORDER BY v.version
    """,
)
def versioned_upsert_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse-style time travel without a table format: four ingest
    batches MERGE into a copy-on-write keyed table, each merge writing an
    immutable version directory (what Delta/Iceberg do with manifests);
    the query then TIME-TRAVELS across every retained version and audits
    key-count / row-count / totals per version. DECIMAL partials make each
    merge exact and associative, so version v provably equals the batch
    aggregate over ingest prefix 0..v — which is what the oracle checks.

    Scale shape: each merge is a key-partitioned full-outer join of
    O(|keys|) rows; versions are O(|keys|) parquet, so retention is cheap
    and every historical read is a plain scan."""
    ev = load(spark, sf_dir, "events")
    root = os.path.join(
        tempfile.gettempdir(), f"bfcms_timetravel_{os.path.basename(sf_dir)}"
    )
    versions: list[str] = []
    state = None
    for b in range(4):
        inc = (
            ev.filter(F.col("event_id") % 4 == b)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.round(F.col("value"), 6).cast("decimal(28,6)")).alias(
                    "total_value"
                ),
            )
        )
        if state is None:
            merged = inc
        else:
            cur = spark.read.parquet(state)
            a = cur.select(
                "event_type",
                F.col("n_events").alias("n_a"),
                F.col("total_value").alias("t_a"),
            )
            bdf = inc.select(
                "event_type",
                F.col("n_events").alias("n_b"),
                F.col("total_value").alias("t_b"),
            )
            merged = a.join(bdf, "event_type", "full_outer").select(
                "event_type",
                (F.coalesce("n_a", F.lit(0)) + F.coalesce("n_b", F.lit(0))).alias(
                    "n_events"
                ),
                (
                    F.coalesce(F.col("t_a"), F.lit(0).cast("decimal(28,6)"))
                    + F.coalesce(F.col("t_b"), F.lit(0).cast("decimal(28,6)"))
                )
                .cast("decimal(28,6)")
                .alias("total_value"),
            )
        out = f"{root}/v{b}"
        merged.write.mode("overwrite").parquet(out)
        versions.append(out)
        state = out

    audits = None
    for v, path in enumerate(versions):
        tbl = spark.read.parquet(path)
        audit = tbl.agg(
            F.lit(v).alias("version"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("total_value").cast("decimal(28,6)").cast("double").alias(
                "total_value"
            ),
        )
        audits = audit if audits is None else audits.unionAll(audit)
    return audits.orderBy("version")


@query(
    "ivm_join_delta_maintenance",
    oracle="""
    -- IVM correctness statement: the incrementally-maintained view must
    -- equal the full recompute over base + delta
    SELECT o.o_orderpriority AS priority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1.00 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
                AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1 ORDER BY 1
    """,
)
def ivm_join_delta_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a join-aggregate: the materialized
    view γ(lineitem ⋈ orders) is updated for an appended lineitem batch by
    the delta rule ΔMV = γ(Δlineitem ⋈ orders) — the base fact table is
    NEVER rescanned (the merged plan reads only the materialized parquet
    and the delta). DECIMAL partials make the merge exact/associative, so
    incremental == full recompute, which is what the oracle checks.

    At 100 TB this is the nightly-append path: maintenance cost is
    O(|delta| + |keys|), not O(|base|). (Two-sided delta joins add the
    symmetric ΔA⋈B / A⋈ΔB terms; the fact-append case shown here is the
    one a warehouse actually runs.)"""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit("1.00").cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )

    def gamma(items):
        return (
            items.join(F.broadcast(orders.select("o_orderkey", "o_orderpriority")),
                       items.l_orderkey == F.col("o_orderkey"))
            .groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(rev).cast("decimal(28,6)").alias("rev"),
            )
        )

    base = li.filter(F.col("l_orderkey") % 5 != 0)
    delta = li.filter(F.col("l_orderkey") % 5 == 0)
    mv_path = os.path.join(
        tempfile.gettempdir(), f"bfcms_ivm_mv_{os.path.basename(sf_dir)}"
    )
    gamma(base).write.mode("overwrite").parquet(mv_path)

    mv_old = spark.read.parquet(mv_path).select(
        "priority", F.col("n_items").alias("n_a"), F.col("rev").alias("r_a")
    )
    mv_delta = gamma(delta).select(
        "priority", F.col("n_items").alias("n_b"), F.col("rev").alias("r_b")
    )
    merged = mv_old.join(mv_delta, "priority", "full_outer").select(
        "priority",
        (F.coalesce("n_a", F.lit(0)) + F.coalesce("n_b", F.lit(0))).alias("n_items"),
        (
            F.coalesce(F.col("r_a"), F.lit(0).cast("decimal(28,6)"))
            + F.coalesce(F.col("r_b"), F.lit(0).cast("decimal(28,6)"))
        ).alias("rev"),
    )
    return merged.select(
        "priority", "n_items", F.col("rev").cast("double").alias("revenue")
    ).orderBy("priority")


@query(
    "null_safe_join_counts",
    oracle="""
    -- null-safe equality (IS NOT DISTINCT FROM / <=>): NULL keys MATCH,
    -- unlike plain = which drops them — the semantics gap that silently
    -- loses rows in key-reconciliation joins
    WITH a AS (
      SELECT CASE WHEN o_custkey % 10 = 0 THEN NULL ELSE o_custkey % 50 END AS k,
             COUNT(*) AS cnt_a
      FROM orders WHERE o_custkey < 500 GROUP BY 1
    ),
    b AS (
      SELECT CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_custkey % 50 END AS k,
             COUNT(*) AS cnt_b
      FROM customer WHERE c_custkey < 500 GROUP BY 1
    )
    SELECT COALESCE(a.k, -1) AS k, a.cnt_a, b.cnt_b
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    ORDER BY k
    """,
)
def null_safe_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe join (eqNullSafe / <=>): grouped keys where 10% collapse
    to NULL; the null-safe equi-join matches the NULL buckets instead of
    dropping them. Still a hash-partitionable equi-join (Catalyst plans
    <=> as a normal join key), so the scale shape is unchanged."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    a = (
        orders.filter(F.col("o_custkey") < 500)
        .select(
            F.when(F.col("o_custkey") % 10 == 0, F.lit(None).cast("long"))
            .otherwise(F.col("o_custkey") % 50)
            .alias("ka")
        )
        .groupBy("ka")
        .agg(F.count(F.lit(1)).alias("cnt_a"))
    )
    b = (
        cust.filter(F.col("c_custkey") < 500)
        .select(
            F.when(F.col("c_custkey") % 10 == 0, F.lit(None).cast("long"))
            .otherwise(F.col("c_custkey") % 50)
            .alias("kb")
        )
        .groupBy("kb")
        .agg(F.count(F.lit(1)).alias("cnt_b"))
    )
    return (
        a.join(b, a.ka.eqNullSafe(b.kb))
        .select(F.coalesce(F.col("ka"), F.lit(-1)).alias("k"), "cnt_a", "cnt_b")
        .orderBy("k")
    )


@query(
    "argmax_family",
    oracle="""
    -- max_by / min_by (arg_max / arg_min): which event carried the
    -- extreme value. The ordering key packs (value rounded to 1e-6,
    -- event_id) into ONE exact integer, so ties break on id identically
    -- in both engines — the total-order discipline every ORDER BY here
    -- follows, applied to an aggregate's internal comparison
    SELECT event_type,
           arg_max(event_id, CAST(ROUND(value * 1000000) AS BIGINT) * 100000000
                             + event_id) AS max_value_event,
           arg_min(event_id, CAST(ROUND(value * 1000000) AS BIGINT) * 100000000
                             + event_id) AS min_value_event,
           ROUND(MAX(value), 6) AS max_value,
           ROUND(MIN(value), 6) AS min_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def argmax_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / min_by: the O(1)-state argmax aggregate — replaces the
    window-rank-then-filter idiom for "which row had the max" with a
    single hash agg (no sort, no second pass). Composite integer ordering
    key = (value@1e-6, event_id) for an engine-stable tie-break."""
    ev = load(spark, sf_dir, "events")
    ordk = (
        F.round(F.col("value") * 1000000).cast("long") * F.lit(100000000)
        + F.col("event_id")
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.max_by("event_id", ordk).alias("max_value_event"),
            F.min_by("event_id", ordk).alias("min_value_event"),
            F.round(F.max("value"), 6).alias("max_value"),
            F.round(F.min("value"), 6).alias("min_value"),
        )
        .orderBy("event_type")
    )


@query(
    "interval_join_binned",
    oracle="""
    -- overlap semantics stated directly; the engine side computes the
    -- same pairs via time-bin bucketing (work ∝ overlaps, not |A|x|B|)
    WITH iv AS (
      SELECT event_id AS click_id, user_id, ts AS start_ts,
             ts + INTERVAL 30 MINUTE AS end_ts
      FROM events WHERE event_type = 'click' AND user_id < 50
    ),
    err AS (SELECT event_id AS err_id, ts FROM events WHERE event_type = 'error')
    SELECT iv.user_id,
           COUNT(*) AS n_overlaps,
           CAST(COUNT(DISTINCT err.err_id) AS BIGINT) AS n_errors
    FROM iv JOIN err ON err.ts >= iv.start_ts AND err.ts < iv.end_ts
    GROUP BY iv.user_id ORDER BY iv.user_id
    """,
)
def interval_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join via time-bin bucketing — the 100 TB answer to
    a theta join: intervals explode to the (few) 30-min bins they cover,
    points carry their single bin, the pair space becomes an EQUI-join on
    bin refined by the exact containment predicate. A point's bin is
    unique so no pair is double-counted. Work scales with actual overlap
    density instead of |intervals| x |points| (a nested-loop join here is
    quadratic and unshardable; the bin key hash-partitions).

    Semantics under test: 30-min click windows of users < 50 catching
    error events, per-user overlap and distinct-error counts."""
    ev = load(spark, sf_dir, "events")
    bin_s = 1800
    iv = (
        ev.filter((F.col("event_type") == "click") & (F.col("user_id") < 50))
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
        )
        .withColumn(
            "bin",
            F.explode(
                F.sequence(
                    F.floor(F.col("start_ts").cast("double") / bin_s),
                    F.floor(F.col("end_ts").cast("double") / bin_s),
                )
            ),
        )
    )
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("ts").alias("err_ts"),
        F.floor(F.col("ts").cast("double") / bin_s).alias("bin"),
    )
    pairs = iv.join(err, "bin").filter(
        (F.col("err_ts") >= F.col("start_ts")) & (F.col("err_ts") < F.col("end_ts"))
    )
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_overlaps"),
            F.count_distinct("err_id").cast("long").alias("n_errors"),
        )
        .orderBy("user_id")
    )


@query(
    "pandas_api_groupby",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE)
             AS total_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def pandas_api_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas API on Spark (pyspark.pandas): the fourth query surface next
    to DataFrame / SQL / streaming — pandas syntax compiling to the same
    Catalyst plans, so pandas-fluent users get distributed execution
    without a rewrite. The groupby-agg here round-trips through
    pandas_api() and back via to_spark(); the decimal-sum determinism
    contract applies unchanged because the underlying expressions are
    ordinary Spark columns."""
    import pyspark.pandas as ps

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.round("value", 6).cast("decimal(28,6)").alias("v"),
    )
    psdf = ev.pandas_api()
    out = psdf.groupby("event_type").agg(n=("v", "count"), total_value=("v", "sum"))
    sdf = out.reset_index().to_spark()
    return sdf.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("total_value").cast("double").alias("total_value"),
    ).orderBy("event_type")


@query(
    "small_file_compaction",
    oracle="""
    -- lakehouse maintenance: a fragmented table (192 files) compacted to
    -- ceil(rows / 50000) files; row counts must survive exactly, and the
    -- file counts are closed-form from the row count
    SELECT 'before' AS stage,
           192 AS n_files,
           COUNT(*) AS n_rows
    FROM events
    UNION ALL
    SELECT 'after',
           CAST(CEIL(COUNT(*) / 50000.0) AS INTEGER),
           COUNT(*)
    FROM events
    ORDER BY stage
    """,
)
def small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-files problem and its fix: the events table fragmented
    into 192 files (what streaming ingest leaves behind), then compacted
    with repartition(ceil(rows / 50k)) — bounded file sizes, exact row
    preservation, and a deterministic post-compaction layout. At 100 TB
    this is the scheduled OPTIMIZE job; the audit row pair (before/after
    file + row counts) is what its run log must prove."""
    ev = load(spark, sf_dir, "events")
    frag_path = os.path.join(
        tempfile.gettempdir(), f"bfcms_frag_{os.path.basename(sf_dir)}"
    )
    comp_path = os.path.join(
        tempfile.gettempdir(), f"bfcms_compact_{os.path.basename(sf_dir)}"
    )
    ev.repartition(192).write.mode("overwrite").parquet(frag_path)
    frag = spark.read.parquet(frag_path)
    n_rows = frag.count()
    n_after = -(-n_rows // 50000)
    frag.repartition(n_after).write.mode("overwrite").parquet(comp_path)

    def count_files(p):
        return len([f for f in os.listdir(p) if f.endswith(".parquet")])

    comp_rows = spark.read.parquet(comp_path).count()
    return spark.createDataFrame(
        [
            ("after", count_files(comp_path), comp_rows),
            ("before", count_files(frag_path), n_rows),
        ],
        "stage string, n_files int, n_rows long",
    ).orderBy("stage")


@query(
    "regex_function_family",
    oracle="""
    -- regexp_count / regexp_substr / regexp_instr family over doc text;
    -- all exact integers and strings
    SELECT source,
           CAST(SUM(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT)
             AS digit_runs,
           CAST(SUM(CASE WHEN regexp_matches(text, '[A-Z]{2,}')
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_acronym,
           MIN(NULLIF(regexp_extract(text, '[a-z]{12,}', 0), ''))
             AS min_long_word
    FROM documents GROUP BY source ORDER BY source
    """,
)
def regex_function_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_count / rlike / regexp_substr coverage (B24 depth): digit-run
    counts, acronym detection, lexicographically-smallest long word per
    source — all JVM regex, codegen'd, zero Python."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.sum(F.regexp_count("text", F.lit(r"[0-9]+")))
            .cast("long")
            .alias("digit_runs"),
            F.sum(F.col("text").rlike("[A-Z]{2,}").cast("long"))
            .cast("long")
            .alias("docs_with_acronym"),
            F.min(F.nullif(F.regexp_extract("text", "[a-z]{12,}", 0), F.lit("")))
            .alias("min_long_word"),
        )
        .orderBy("source")
    )


@query(
    "map_hof_family",
    oracle="""
    -- value-level twin of the map HOF pipeline: the engine builds a map
    -- from arrays, rescales values with transform_values, filters entries
    -- with map_filter, and explodes back to rows — which must equal this
    -- direct computation on the base columns
    SELECT event_type, 'v1' AS metric,
           CAST(SUM(CASE WHEN user_id * 2 > 100 THEN user_id * 2 END) AS BIGINT)
             AS total
    FROM events
    GROUP BY event_type
    HAVING SUM(CASE WHEN user_id * 2 > 100 THEN user_id * 2 END) IS NOT NULL
    UNION ALL
    SELECT event_type, 'v2',
           CAST(SUM(CASE WHEN event_id * 3 > 100 THEN event_id * 3 END) AS BIGINT)
    FROM events
    GROUP BY event_type
    HAVING SUM(CASE WHEN event_id * 3 > 100 THEN event_id * 3 END) IS NOT NULL
    ORDER BY event_type, metric
    """,
)
def map_hof_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions (B28 depth): map_from_arrays ->
    transform_values (per-key rescale) -> map_filter (threshold) ->
    explode back to rows, aggregated. The oracle computes the same
    numbers straight from the base columns — the HOF pipeline must be a
    pure refactoring of that arithmetic."""
    ev = load(spark, sf_dir, "events")
    m = F.map_from_arrays(
        F.array(F.lit("v1"), F.lit("v2")),
        F.array(F.col("user_id"), F.col("event_id")),
    )
    scaled = F.transform_values(
        m, lambda k, v: F.when(k == "v1", v * 2).otherwise(v * 3)
    )
    kept = F.map_filter(scaled, lambda k, v: v > 100)
    exploded = ev.select(
        "event_type", F.explode(kept).alias("metric", "val")
    )
    return (
        exploded.groupBy("event_type", "metric")
        .agg(F.sum("val").cast("long").alias("total"))
        .orderBy("event_type", "metric")
    )


@query(
    "dynamic_partition_overwrite",
    oracle="""
    -- INSERT OVERWRITE with dynamic partition mode: only the partitions
    -- present in the incoming batch are replaced (1997-03 repriced to
    -- zero), siblings untouched — so the final table is expressible as a
    -- CASE over the source
    SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN strftime(o_orderdate, '%Y-%m') = '1997-03'
                         THEN CAST(0.00 AS DECIMAL(12,2))
                         ELSE CAST(o_totalprice AS DECIMAL(12,2)) END)
                AS DOUBLE) AS total
    FROM orders
    WHERE strftime(o_orderdate, '%Y-%m') BETWEEN '1997-01' AND '1997-04'
    GROUP BY 1 ORDER BY 1
    """,
)
def dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (partitionOverwriteMode=dynamic): an
    incremental reprice batch touching ONLY 1997-03 replaces exactly that
    partition directory; static mode would have wiped every partition of
    the table first — the difference between an incremental backfill and
    a table truncation. The read-back audit proves siblings survived
    byte-for-byte (counts and DECIMAL totals unchanged)."""
    src = load(spark, sf_dir, "orders")
    out = os.path.join(
        tempfile.gettempdir(), f"bfcms_dpo_orders_{os.path.basename(sf_dir)}"
    )
    base = src.filter(
        F.date_format("o_orderdate", "yyyy-MM").between("1997-01", "1997-04")
    ).withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM"))
    base.write.mode("overwrite").partitionBy("o_month").parquet(out)

    reprice = base.filter(F.col("o_month") == "1997-03").withColumn(
        "o_totalprice", F.lit(0.0)
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        reprice.write.mode("overwrite").partitionBy("o_month").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    back = spark.read.parquet(out)
    return (
        back.groupBy("o_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("o_month")
    )


@query(
    "locf_gap_fill",
    oracle="""
    -- LOCF (last observation carried forward): dense hourly grid for one
    -- day, missing hours forward-filled from the last seen hourly mean.
    -- The hourly means are rounded-term DECIMAL means; LOCF is pure
    -- row-motion, so cross-engine equality is exact.
    WITH bounds AS (
      SELECT date_trunc('day', MIN(ts)) AS d0 FROM events
    ),
    slots AS (
      SELECT unnest(generate_series(d0, d0 + INTERVAL 23 HOUR, INTERVAL 1 HOUR))
        AS slot
      FROM bounds
    ),
    actual AS (
      SELECT date_trunc('hour', ts) AS slot,
             ROUND(CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(*), 6) AS v
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    grid AS (
      SELECT s.slot, a.v FROM slots s LEFT JOIN actual a USING (slot)
    )
    SELECT strftime(slot, '%Y-%m-%d %H:%M:%S') AS slot,
           (v IS NULL) AS was_gap,
           LAST_VALUE(v IGNORE NULLS) OVER (
             ORDER BY slot ROWS UNBOUNDED PRECEDING
           ) AS v_filled
    FROM grid ORDER BY slot
    """,
)
def locf_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (LOCF) over a dense hourly grid — the other half of
    time-series gap handling next to zero-fill (timeseries_gap_fill_daily):
    sequence() builds the grid, a left join marks the gaps, and
    last_value(... ignoreNulls) carries the prior observation forward in
    one ordered window. The fill is pure row-motion over already-rounded
    values, so both engines emit identical series."""
    ev = load(spark, sf_dir, "events")
    d0 = ev.agg(F.date_trunc("day", F.min("ts")).alias("d0")).collect()[0]["d0"]
    slots = spark.sql(
        f"SELECT explode(sequence(timestamp'{d0}', "
        f"timestamp'{d0}' + INTERVAL 23 HOURS, INTERVAL 1 HOUR)) AS slot"
    )
    actual = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("slot"))
        .agg(
            F.round(
                F.sum(F.round("value", 6).cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("v")
        )
    )
    grid = slots.join(actual, "slot", "left")
    w = Window.orderBy("slot").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return grid.select(
        F.date_format("slot", "yyyy-MM-dd HH:mm:ss").alias("slot"),
        F.col("v").isNull().alias("was_gap"),
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
    ).orderBy("slot")


@query(
    "url_parse_family",
    oracle="""
    -- web-corpus URL handling: host / path / query-param extraction and
    -- per-host rollups. URLs are synthesized deterministically; the
    -- oracle parses with string ops, the engine with parse_url — same
    -- components on this shape by construction.
    WITH urls AS (
      SELECT 'https://' || source || '.example.com/docs/'
             || CAST(doc_id AS VARCHAR) || '?lang=' || lang AS url
      FROM documents
    )
    SELECT split_part(split_part(url, '://', 2), '/', 1) AS host,
           COUNT(*) AS n_urls,
           CAST(COUNT(DISTINCT split_part(split_part(url, '?', 1), '://', 2))
                AS BIGINT) AS n_paths,
           MIN(split_part(url, 'lang=', 2)) AS min_lang
    FROM urls GROUP BY 1 ORDER BY 1
    """,
)
def url_parse_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_url coverage (B24, web-corpus shape): HOST / PATH / QUERY
    param extraction with per-host rollups — the URL normalization step a
    crawl-derived corpus runs before domain caps and dedup. parse_url is
    a JVM expression (no UDF); the oracle reconstructs the same
    components with string splits on the synthesized shape."""
    docs = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
    )
    u = docs.select(url.alias("url"))
    host = F.parse_url("url", F.lit("HOST"))
    path = F.concat(host, F.parse_url("url", F.lit("PATH")))
    lang_q = F.parse_url("url", F.lit("QUERY"), F.lit("lang"))
    return (
        u.groupBy(host.alias("host"))
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.count_distinct(path).cast("long").alias("n_paths"),
            F.min(lang_q).alias("min_lang"),
        )
        .orderBy("host")
    )


@query(
    "schema_merge_read",
    oracle="""
    -- schema evolution: batch v1 lacks the later 'score' column; a
    -- mergeSchema read unions the schemas and nulls the missing column —
    -- expressible as a CASE on batch membership
    WITH unioned AS (
      SELECT doc_id, lang, NULL AS score FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, lang, CAST(n_chars AS DOUBLE) / 1000 AS score
      FROM documents WHERE doc_id % 2 = 1
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN score IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missing_score,
           CAST(SUM(CAST(ROUND(COALESCE(score, 0), 6) AS DECIMAL(28,6)))
                AS DOUBLE) AS score_sum
    FROM unioned GROUP BY lang ORDER BY lang
    """,
)
def schema_merge_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the lake: an old batch written before the
    'score' column existed and a new batch carrying it are read together
    with mergeSchema=true — the union schema appears, old rows surface
    NULL for the added column, and aggregates must handle both. The
    pattern every long-lived parquet dataset hits; the audit counts the
    schema-gap rows per language."""
    docs = load(spark, sf_dir, "documents")
    root = os.path.join(
        tempfile.gettempdir(), f"bfcms_schemamerge_{os.path.basename(sf_dir)}"
    )
    v1 = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang")
    v2 = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", (F.col("n_chars").cast("double") / 1000).alias("score")
    )
    v1.write.mode("overwrite").parquet(f"{root}/batch=v1")
    v2.write.mode("overwrite").parquet(f"{root}/batch=v2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{root}/batch=v1", f"{root}/batch=v2"
    )
    return (
        merged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("score").isNull().cast("long"))
            .cast("long")
            .alias("n_missing_score"),
            F.sum(F.round(F.coalesce("score", F.lit(0.0)), 6).cast("decimal(28,6)"))
            .cast("double")
            .alias("score_sum"),
        )
        .orderBy("lang")
    )


@query(
    "ansi_try_arithmetic",
    oracle="""
    -- Spark 4 runs ANSI mode by default: plain arithmetic THROWS on
    -- div-by-zero/overflow, and the try_* family is the lenient opt-out
    -- returning NULL. The oracle states the NULL semantics directly.
    -- Quotients are exact halves (denominator 1 or 2), so the doubled
    -- sum is an exact integer in both engines.
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN o_orderkey % 3 = 0 THEN NULL
                         ELSE o_custkey / (o_orderkey % 3) END) * 2 AS BIGINT)
             AS safe_div_sum_x2,
           CAST(SUM(CASE WHEN o_custkey % 2 = 0 THEN NULL
                         ELSE 1 / (o_custkey % 2) END) AS BIGINT)
             AS n_odd_cust
    FROM orders WHERE o_orderkey < 2000
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def ansi_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode arithmetic (Spark 4 default) with the try_* escape hatch:
    every third order produces a zero denominator, so plain division
    would raise DIVIDE_BY_ZERO and kill the job; try_divide yields NULL
    and the aggregate skips it — the lenient path a production pipeline
    opts into per-expression instead of disabling ANSI globally."""
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.try_divide(F.col("o_custkey"), F.col("o_orderkey") % 3)) * 2)
            .cast("long")
            .alias("safe_div_sum_x2"),
            F.sum(F.try_divide(F.lit(1), F.col("o_custkey") % 2))
            .cast("long")
            .alias("n_odd_cust"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "spatial_grid_join",
    oracle="""
    -- spatial self-join via grid bucketing: points hashed to 0.5-degree
    -- cells, candidates = point x 3x3 neighborhood of the other point's
    -- home cell, exact haversine verify at 50 km. Coordinates are
    -- md5-derived doubles (identical cross-engine); trig is elementwise
    -- libm on identical inputs; distances ROUNDed before the threshold
    -- and the ranking.
    WITH pts AS (
      SELECT c_custkey AS id,
             40.0 + (('0x' || substr(md5('lat:' || CAST(c_custkey AS VARCHAR)), 1, 12))::BIGINT + 1)
                    / 281474976710656.0 * 10.0 AS lat,
             -5.0 + (('0x' || substr(md5('lon:' || CAST(c_custkey AS VARCHAR)), 1, 12))::BIGINT + 1)
                    / 281474976710656.0 * 10.0 AS lon
      FROM customer WHERE c_custkey < 2000
    ),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b,
             ROUND(2.0 * 6371.0088 * asin(sqrt(
               sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2)
               + cos(radians(a.lat)) * cos(radians(b.lat))
                 * sin(radians(b.lon - a.lon) / 2) * sin(radians(b.lon - a.lon) / 2)
             )), 6) AS dist_km
      FROM pts a JOIN pts b
        ON a.id < b.id
       -- 0.5 deg lat ~= 55 km >= 50; lon shrinks with cos(lat) (~36 km
       -- per 0.5 deg at 50N), so lon cells are 1.0 deg (~71 km) to keep
       -- the 3x3 neighborhood a superset of every 50 km pair
       AND abs(floor(a.lat / 0.5) - floor(b.lat / 0.5)) <= 1
       AND abs(floor(a.lon / 1.0) - floor(b.lon / 1.0)) <= 1
    )
    SELECT id_a, id_b, dist_km
    FROM pairs WHERE dist_km <= 50.0
    ORDER BY dist_km, id_a, id_b
    LIMIT 20
    """,
)
def spatial_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial distance self-join via grid bucketing — the 2-D instance of
    the binned-join technique (interval_join_binned is the 1-D case):
    each point gets a 0.5° home cell; one side explodes to its 3×3 cell
    neighborhood so every ≤50 km pair coexists in some cell key, the join
    is a plain EQUI-join on the cell, and exact haversine verifies. Work
    ∝ per-cell density², never |points|² — the geohash/S2 sharding shape.
    Closest 20 pairs, rounded distance + id tie-breaks."""
    cust = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 2000)

    def md5frac(prefix):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(prefix), F.col("c_custkey").cast("string"))),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("long")
            + 1
        ).cast("double") / F.lit(float(2**48))

    pts = cust.select(
        F.col("c_custkey").alias("id"),
        (F.lit(40.0) + md5frac("lat:") * 10.0).alias("lat"),
        (F.lit(-5.0) + md5frac("lon:") * 10.0).alias("lon"),
    )
    # lat cells 0.5 deg (~55 km); lon cells 1.0 deg (~71 km at 50N, where
    # cos(lat) shrinks them most) so the 3x3 neighborhood provably covers
    # every 50 km pair
    cell_lat = F.floor(F.col("lat") / 0.5)
    cell_lon = F.floor(F.col("lon") / 1.0)
    home = pts.select(
        F.col("id").alias("id_a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        F.concat_ws(":", cell_lat, cell_lon).alias("cell"),
    )
    neigh = pts.select(
        F.col("id").alias("id_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(-1), F.lit(1)),
                    lambda di: F.transform(
                        F.sequence(F.lit(-1), F.lit(1)),
                        lambda dj: F.concat_ws(":", cell_lat + di, cell_lon + dj),
                    ),
                )
            )
        ).alias("cell"),
    )
    rad = lambda c: F.radians(c)
    dlat = rad(F.col("lat_b") - F.col("lat_a")) / 2
    dlon = rad(F.col("lon_b") - F.col("lon_a")) / 2
    hav = (
        F.sin(dlat) * F.sin(dlat)
        + F.cos(rad(F.col("lat_a")))
        * F.cos(rad(F.col("lat_b")))
        * F.sin(dlon)
        * F.sin(dlon)
    )
    dist = F.round(2.0 * 6371.0088 * F.asin(F.sqrt(hav)), 6)
    return (
        home.join(neigh, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dist.alias("dist_km"))
        .filter(F.col("dist_km") <= 50.0)
        .orderBy("dist_km", "id_a", "id_b")
        .limit(20)
    )


@query(
    "sql_surface_family",
    oracle="""
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE lang = 'en' AND n_chars >= 100
    GROUP BY ALL
    ORDER BY ALL
    """,
)
def sql_surface_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern SQL surface in one statement: IDENTIFIER() table
    parameterization (SQL-injection-safe dynamic names), named parameter
    markers (:lang / :min_chars via spark.sql args), and GROUP BY ALL /
    ORDER BY ALL (Spark 4 + DuckDB share the dialect — the oracle uses
    the same text minus the parameterization)."""
    load(spark, sf_dir, "documents").createOrReplaceTempView("sqlsurf_docs")
    return spark.sql(
        """
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM IDENTIFIER(:tbl)
        WHERE lang = :lang AND n_chars >= :min_chars
        GROUP BY ALL
        ORDER BY ALL
        """,
        args={"tbl": "sqlsurf_docs", "lang": "en", "min_chars": 100},
    )


@query(
    "cached_multi_output_report",
    oracle="""
    -- two report facets over ONE cached base aggregate: by-lang and
    -- by-source rollups of the same per-(lang,source) cells
    WITH base AS (
      SELECT lang, source, COUNT(*) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY lang, source
    )
    SELECT 'by_lang' AS facet, lang AS key,
           CAST(SUM(n) AS BIGINT) AS n_docs, CAST(SUM(chars) AS BIGINT) AS total_chars
    FROM base GROUP BY lang
    UNION ALL
    SELECT 'by_source', source,
           CAST(SUM(n) AS BIGINT), CAST(SUM(chars) AS BIGINT)
    FROM base GROUP BY source
    ORDER BY facet, key
    """,
)
def cached_multi_output_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-output reporting over a CACHED intermediate: the
    per-(lang, source) cell table is computed once (persist), then two
    facets aggregate it — the second facet reads InMemoryTableScan, not
    the parquet (tests/test_scale_shapes.py asserts the plan). The
    cache-or-recompute decision is THE recurring dashboard-pipeline
    trade; here the cells are tiny and hot, the textbook cache case."""
    docs = load(spark, sf_dir, "documents")
    base = (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").cast("long").alias("chars"),
        )
        .persist()
    )
    by_lang = base.groupBy("lang").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum("chars").cast("long").alias("total_chars"),
    ).select(F.lit("by_lang").alias("facet"), F.col("lang").alias("key"), "n_docs", "total_chars")
    by_source = base.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum("chars").cast("long").alias("total_chars"),
    ).select(F.lit("by_source").alias("facet"), F.col("source").alias("key"), "n_docs", "total_chars")
    return by_lang.unionAll(by_source).orderBy("facet", "key")


@query(
    "table_diff_audit",
    oracle="""
    -- keyed diff between two versions of the aggregate table (versions =
    -- ingest prefixes of event_id % 4): classification per key into
    -- added / changed / unchanged, with numeric deltas. The data-diff
    -- primitive behind regression-testing a pipeline change.
    WITH v2 AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS t
      FROM events WHERE event_id % 4 <= 2 GROUP BY event_type
    ),
    v3 AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS t
      FROM events GROUP BY event_type
    )
    SELECT COALESCE(v3.event_type, v2.event_type) AS key,
           CASE WHEN v2.event_type IS NULL THEN 'added'
                WHEN v3.event_type IS NULL THEN 'removed'
                WHEN v2.n <> v3.n OR v2.t <> v3.t THEN 'changed'
                ELSE 'unchanged' END AS status,
           CAST(COALESCE(v3.n, 0) - COALESCE(v2.n, 0) AS BIGINT) AS n_delta,
           CAST(COALESCE(v3.t, 0) - COALESCE(v2.t, 0) AS DOUBLE) AS t_delta
    FROM v2 FULL OUTER JOIN v3 USING (event_type)
    ORDER BY key
    """,
)
def table_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed table diff (the data-diff / regression-test primitive): two
    versions of the aggregate table FULL OUTER joined on the key, each
    key classified added / removed / changed / unchanged with exact
    numeric deltas (DECIMAL arithmetic, so 'changed' can never fire on
    float noise). One key-partitioned join regardless of table width —
    at 100 TB you diff hash-of-row first and only widen changed keys."""
    ev = load(spark, sf_dir, "events")

    def version(pred):
        return ev.filter(pred).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round("value", 6).cast("decimal(28,6)")).alias("t"),
        )

    v2 = version(F.col("event_id") % 4 <= 2).select(
        F.col("event_type").alias("k2"), F.col("n").alias("n2"), F.col("t").alias("t2")
    )
    v3 = version(F.lit(True)).select(
        F.col("event_type").alias("k3"), F.col("n").alias("n3"), F.col("t").alias("t3")
    )
    j = v2.join(v3, v2.k2 == v3.k3, "full_outer")
    status = (
        F.when(F.col("k2").isNull(), "added")
        .when(F.col("k3").isNull(), "removed")
        .when(
            (F.col("n2") != F.col("n3")) | (F.col("t2") != F.col("t3")), "changed"
        )
        .otherwise("unchanged")
    )
    zero = F.lit(0).cast("decimal(28,6)")
    return j.select(
        F.coalesce("k3", "k2").alias("key"),
        status.alias("status"),
        (F.coalesce("n3", F.lit(0)) - F.coalesce("n2", F.lit(0)))
        .cast("long")
        .alias("n_delta"),
        (F.coalesce(F.col("t3"), zero) - F.coalesce(F.col("t2"), zero))
        .cast("double")
        .alias("t_delta"),
    ).orderBy("key")


@query(
    "sql_pipe_syntax_report",
    oracle="""
    -- standard-SQL twin of the Spark 4 pipe-syntax (|>) query
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1.00 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def sql_pipe_syntax_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL PIPE syntax (B-surface depth): the q1 aggregation
    written as a linear `FROM |> WHERE |> EXTEND |> AGGREGATE |> ORDER BY`
    pipeline. Pipe operators lower to exactly the same logical plan as
    nested SQL — Catalyst sees one Aggregate over one Filter — so this
    pins that the modern authoring surface carries zero plan cost."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("pipe_li")
    return spark.sql(
        """
        FROM pipe_li
        |> WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |> EXTEND CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1.00 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                  AS disc_price
        |> AGGREGATE COUNT(*) AS n_items,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
                     CAST(SUM(disc_price) AS DOUBLE) AS revenue
           GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n_items, sum_qty, revenue
        """
    )


@query(
    "sql_udf_declared_functions",
    oracle="""
    -- inline-expanded twin of the declared SQL UDFs: effective_price
    -- (scalar) and the per-language doc stats (table function)
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS DECIMAL(18,2))
                    * (CAST(1.00 AS DECIMAL(4,2)) - CAST(0.10 AS DECIMAL(4,2))))
                AS DOUBLE) AS weighted_chars
    FROM documents
    WHERE lang IN ('en', 'de')
    GROUP BY lang
    ORDER BY lang
    """,
)
def sql_udf_declared_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL-declared UDFs (CREATE FUNCTION ... RETURN): a SCALAR
    SQL UDF (pure expression — inlined by Catalyst, fully codegen'd, no
    Python worker anywhere) and a TABLE-VALUED SQL UDF (parameterized
    view over a real table). The 100 TB point: SQL UDFs are the
    user-extension tier that costs NOTHING at scale, unlike external
    UDFs — the optimizer sees straight through them."""
    load(spark, sf_dir, "documents").createOrReplaceTempView("sqludf_docs")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION weighted_chars(c BIGINT, disc DOUBLE)
        RETURNS DECIMAL(28,4)
        RETURN CAST(c AS DECIMAL(18,2))
               * (CAST(1.00 AS DECIMAL(4,2)) - CAST(disc AS DECIMAL(4,2)))
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION docs_of_lang(l STRING)
        RETURNS TABLE(lang STRING, n_chars BIGINT)
        RETURN SELECT lang, n_chars FROM sqludf_docs WHERE lang = l
        """
    )
    return spark.sql(
        """
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(weighted_chars(n_chars, 0.10)) AS DOUBLE) AS weighted_chars
        FROM (SELECT * FROM docs_of_lang('en') UNION ALL
              SELECT * FROM docs_of_lang('de'))
        GROUP BY lang
        ORDER BY lang
        """
    )


@query(
    "grouped_apply_arrow_stats",
    oracle="""
    -- exact twin of the Arrow-native grouped map: per-type value stats
    -- with the DECIMAL-sum discipline (value carries 2 decimals)
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
           CAST(MIN(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS min_value,
           CAST(MAX(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS max_value
    FROM events GROUP BY event_type
    """,
)
def grouped_apply_arrow_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map over RAW ARROW tables (``applyInArrow`` — the B31-33
    Python-extension ladder's zero-copy rung: no pandas materialization,
    columnar compute via pyarrow.compute). Exact per-type stats with
    cent-exact integer arithmetic inside the UDF; used where per-group
    logic needs Arrow-level control (dictionary arrays, large binary)
    that a pandas round-trip would copy or upcast."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def stats(table: pa.Table) -> pa.Table:
        cents = pc.round(pc.multiply(table["value"], pa.scalar(100.0)))
        cents = pc.cast(cents, pa.int64())
        return pa.table(
            {
                "event_type": [table["event_type"][0].as_py()],
                "n": [table.num_rows],
                "sum_value": [pc.sum(cents).as_py() / 100.0],
                "min_value": [pc.min(cents).as_py() / 100.0],
                "max_value": [pc.max(cents).as_py() / 100.0],
            }
        )

    ev = load(spark, sf_dir, "events").select("event_type", "value")
    return ev.groupBy("event_type").applyInArrow(
        stats,
        "event_type string, n long, sum_value double, min_value double, "
        "max_value double",
    )


@query(
    "ivm_agg_retraction_maintenance",
    oracle="""
    -- IVM correctness statement for UPDATES: the view maintained through
    -- Z-set retraction deltas (-1 old row, +1 corrected row) must equal
    -- the full recompute over the corrected table. The corrected table
    -- applies a +10% price restatement to every o_orderkey % 13 = 0 order.
    -- the restatement runs entirely in DECIMAL (x1.10 then round half-up
    -- at cents), so both engines land on the identical cent.
    WITH base AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(ROUND(o_totalprice, 2) AS DECIMAL(28,2)) AS p
      FROM orders
    ),
    corrected AS (
      SELECT o_orderpriority,
             CASE WHEN o_orderkey % 13 = 0
                  THEN CAST(ROUND(p * CAST(1.10 AS DECIMAL(4,2)), 2)
                            AS DECIMAL(28,2))
                  ELSE p END AS p
      FROM base
    )
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(p) AS DOUBLE) AS total_price
    FROM corrected GROUP BY 1 ORDER BY 1
    """,
)
def ivm_agg_retraction_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance under RETRACTIONS — the update/delete
    counterpart of ivm_join_delta_maintenance (which covers appends): a
    price restatement arrives as a Z-set delta carrying multiplicity -1
    for each old row and +1 for its corrected version. The materialized
    per-priority (count, decimal-sum) view is merged with the
    multiplicity-weighted delta aggregate — the base table is NEVER
    rescanned, and groups whose count reaches 0 would drop out. DECIMAL
    partials make count and sum abelian-group aggregates, so maintained ==
    recomputed exactly (the oracle). At 100 TB the maintenance cost is
    O(|delta| + |touched keys|): the GDPR-delete / restatement path that a
    recompute warehouse cannot afford nightly."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice"), 2).cast("decimal(28,2)").alias("p"),
    )

    def gamma(rows, mult):
        return rows.groupBy(F.col("o_orderpriority").alias("priority")).agg(
            F.sum(F.lit(mult)).cast("long").alias("n"),
            (F.sum("p") * mult).cast("decimal(28,2)").alias("s"),
        )

    mv_path = os.path.join(
        tempfile.gettempdir(), f"bfcms_ivm_ret_mv_{os.path.basename(sf_dir)}"
    )
    gamma(orders, 1).write.mode("overwrite").parquet(mv_path)

    touched = orders.filter(F.col("o_orderkey") % 13 == 0)
    retract = gamma(touched, -1)
    insert = gamma(
        touched.withColumn(
            "p",
            F.round(F.col("p") * F.lit("1.10").cast("decimal(4,2)"), 2).cast(
                "decimal(28,2)"
            ),
        ),
        1,
    )
    delta = (
        retract.unionByName(insert)
        .groupBy("priority")
        .agg(
            F.sum("n").cast("long").alias("n_d"),
            F.sum("s").cast("decimal(28,2)").alias("s_d"),
        )
    )
    mv_old = spark.read.parquet(mv_path).select(
        "priority", F.col("n").alias("n_a"), F.col("s").alias("s_a")
    )
    merged = (
        mv_old.join(delta, "priority", "full_outer")
        .select(
            "priority",
            (F.coalesce("n_a", F.lit(0)) + F.coalesce("n_d", F.lit(0)))
            .cast("long")
            .alias("n_orders"),
            (
                F.coalesce(F.col("s_a"), F.lit(0).cast("decimal(28,2)"))
                + F.coalesce(F.col("s_d"), F.lit(0).cast("decimal(28,2)"))
            ).alias("s"),
        )
        .filter(F.col("n_orders") > 0)
    )
    return merged.select(
        "priority", "n_orders", F.col("s").cast("double").alias("total_price")
    ).orderBy("priority")


@query(
    "consistent_hash_ring_assignment",
    oracle="""
    -- Consistent hashing (Karger et al. STOC'97) — the key-placement
    -- operator behind every sharded store: 8 nodes x 16 virtual nodes on
    -- an md5 ring, each key owned by the first vnode clockwise. The audit
    -- removes node 0 and recounts: ONLY the keys that lived on node 0
    -- move (the 1/N guarantee), and the movers redistribute across
    -- survivors — both facts visible in the per-node counts, all
    -- md5-portable and hash-exact.
    WITH keys AS (
      SELECT DISTINCT user_id AS k,
             CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|key'),
                       1, 12) AS BIGINT) AS BIGINT) AS kh
      FROM events
    ),
    vnodes AS (
      SELECT n.node, r.rep,
             CAST(CAST('0x' || substr(md5('node' || CAST(n.node AS VARCHAR)
                       || '#' || CAST(r.rep AS VARCHAR)), 1, 12) AS BIGINT)
               AS BIGINT) AS vh
      FROM range(0, 8) n(node) CROSS JOIN range(0, 16) r(rep)
    ),
    assign_all AS (
      SELECT k, node FROM (
        SELECT keys.k, vnodes.node,
               ROW_NUMBER() OVER (PARTITION BY keys.k
                 ORDER BY CASE WHEN vnodes.vh >= keys.kh THEN 0 ELSE 1 END,
                          vnodes.vh) AS rn
        FROM keys CROSS JOIN vnodes
      ) WHERE rn = 1
    ),
    assign_drop AS (
      SELECT k, node FROM (
        SELECT keys.k, vnodes.node,
               ROW_NUMBER() OVER (PARTITION BY keys.k
                 ORDER BY CASE WHEN vnodes.vh >= keys.kh THEN 0 ELSE 1 END,
                          vnodes.vh) AS rn
        FROM keys CROSS JOIN vnodes WHERE vnodes.node <> 0
      ) WHERE rn = 1
    )
    SELECT b.node,
           CAST(COUNT(*) AS BIGINT) AS keys_before,
           CAST(SUM(CASE WHEN a.node = b.node THEN 1 ELSE 0 END) AS BIGINT)
             AS keys_after_held,
           CAST((SELECT COUNT(*) FROM assign_all x JOIN assign_drop y
                 ON x.k = y.k WHERE x.node = b.node AND y.node <> x.node)
             AS BIGINT) AS keys_moved_out
    FROM assign_all b JOIN assign_drop a ON b.k = a.k
    GROUP BY b.node
    """,
)
def consistent_hash_ring_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash ring placement + node-removal remap audit — the
    minimal-disruption guarantee quantified: assigning keys to 8 nodes via
    16 md5 virtual nodes each, then removing node 0, moves EXACTLY the
    keys node 0 held (keys_moved_out = keys_before for node 0, zero for
    every survivor) while survivors keep their keys. The ring is a 128-row
    broadcast table, so placement is one broadcast join + per-key top-1 —
    at 100 TB the ring rides to every executor and keys never shuffle to
    be placed. All ring and key positions are md5-derived 48-bit ints,
    engine-portable, so the placement itself is value-hash-checked."""
    ev = load(spark, sf_dir, "events")
    keys = ev.select("user_id").distinct().select(
        F.col("user_id").alias("k"),
        F.conv(
            F.substring(F.md5(F.concat(F.col("user_id").cast("string"), F.lit("|key"))), 1, 12),
            16,
            10,
        )
        .cast("long")
        .alias("kh"),
    )
    nodes = spark.range(0, 8).select(F.col("id").alias("node"))
    reps = spark.range(0, 16).select(F.col("id").alias("rep"))
    vnodes = nodes.crossJoin(reps).select(
        "node",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("node"),
                        F.col("node").cast("string"),
                        F.lit("#"),
                        F.col("rep").cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("vh"),
    )

    def assign(vn):
        ranked = keys.crossJoin(F.broadcast(vn)).select(
            "k",
            "node",
            F.row_number()
            .over(
                Window.partitionBy("k").orderBy(
                    F.when(F.col("vh") >= F.col("kh"), 0).otherwise(1), "vh"
                )
            )
            .alias("rn"),
        )
        return ranked.filter(F.col("rn") == 1).select("k", "node")

    before = assign(vnodes).select("k", F.col("node").alias("node_b"))
    after = assign(vnodes.filter(F.col("node") != 0)).select(
        "k", F.col("node").alias("node_a")
    )
    joined = before.join(after, "k")
    return joined.groupBy(F.col("node_b").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("keys_before"),
        F.sum((F.col("node_a") == F.col("node_b")).cast("long"))
        .cast("long")
        .alias("keys_after_held"),
        F.sum((F.col("node_a") != F.col("node_b")).cast("long"))
        .cast("long")
        .alias("keys_moved_out"),
    )


@query(
    "rendezvous_hash_assignment",
    oracle="""
    -- Rendezvous / highest-random-weight hashing (Thaler & Ravishankar
    -- 1998) — consistent hashing's vnode-free sibling: each key goes to
    -- argmax_node md5(key|node). Removing a node reassigns EXACTLY its
    -- own keys (the relative weights of survivors are untouched — an
    -- exact guarantee, where the ring's is statistical), visible here as
    -- keys_moved_out == keys_before for node 0 and 0 for all survivors.
    WITH keys AS (SELECT DISTINCT user_id AS k FROM events),
    wts AS (
      SELECT keys.k, n.node,
             CAST(CAST('0x' || substr(md5(CAST(keys.k AS VARCHAR) || '@'
                       || CAST(n.node AS VARCHAR)), 1, 12) AS BIGINT)
               AS BIGINT) AS w
      FROM keys CROSS JOIN range(0, 8) n(node)
    ),
    assign_all AS (
      SELECT k, node FROM (
        SELECT k, node,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY w DESC, node) AS rn
        FROM wts
      ) WHERE rn = 1
    ),
    assign_drop AS (
      SELECT k, node FROM (
        SELECT k, node,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY w DESC, node) AS rn
        FROM wts WHERE node <> 0
      ) WHERE rn = 1
    )
    SELECT b.node,
           CAST(COUNT(*) AS BIGINT) AS keys_before,
           CAST(SUM(CASE WHEN a.node = b.node THEN 1 ELSE 0 END) AS BIGINT)
             AS keys_after_held,
           CAST(SUM(CASE WHEN a.node <> b.node THEN 1 ELSE 0 END) AS BIGINT)
             AS keys_moved_out
    FROM assign_all b JOIN assign_drop a ON b.k = a.k
    GROUP BY b.node ORDER BY b.node
    """,
)
def rendezvous_hash_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (HRW) key placement + node-removal audit — the twin of
    consistent_hash_ring_assignment with the STRONGER guarantee: argmax
    md5(key|node) needs no virtual nodes and removal disrupts exactly the
    removed node's keys, provably (survivor weights don't change). The
    8-row node table broadcasts, placement is one projection + per-key
    top-1 — keys never shuffle to be placed; md5 weights are engine-
    portable so the placement itself is value-hash-checked."""
    ev = load(spark, sf_dir, "events")
    keys = ev.select("user_id").distinct().select(F.col("user_id").alias("k"))
    nodes = spark.range(0, 8).select(F.col("id").alias("node"))
    wts = keys.crossJoin(F.broadcast(nodes)).select(
        "k",
        "node",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("k").cast("string"),
                        F.lit("@"),
                        F.col("node").cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("w"),
    )
    w_key = Window.partitionBy("k").orderBy(F.desc("w"), "node")
    assign_all = (
        wts.withColumn("rn", F.row_number().over(w_key))
        .filter(F.col("rn") == 1)
        .select("k", "node")
    )
    assign_drop = (
        wts.filter(F.col("node") != 0)
        .withColumn("rn", F.row_number().over(w_key))
        .filter(F.col("rn") == 1)
        .select("k", F.col("node").alias("node_after"))
    )
    return (
        assign_all.join(assign_drop, "k")
        .groupBy("node")
        .agg(
            F.count(F.lit(1)).cast("long").alias("keys_before"),
            F.sum((F.col("node_after") == F.col("node")).cast("long"))
            .cast("long")
            .alias("keys_after_held"),
            F.sum((F.col("node_after") != F.col("node")).cast("long"))
            .cast("long")
            .alias("keys_moved_out"),
        )
        .orderBy("node")
    )


@query(
    "udtf_analyze_dynamic_schema",
    oracle="""
    -- twin of the polymorphic UDTF: splitting the dash-joined triple
    -- (event_type-day-hour) into 3 typed columns and counting — the
    -- output schema the UDTF's analyze() computed from its literal arg.
    SELECT string_split(k, '-')[1] AS c0, string_split(k, '-')[2] AS c1,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (
      SELECT event_type || '-' || CAST(hour(ts) AS VARCHAR) || '-'
               || CAST(isodow(ts) AS VARCHAR) AS k
      FROM events
    )
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def udtf_analyze_dynamic_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (Spark 4): the output schema is computed at
    plan time by a static ``analyze()`` from the literal n_fields argument
    (c0..c{n-1} string columns) — the dynamic-schema half of the UDTF
    contract that udtf_power_series' static returnType doesn't exercise.
    The UDTF splits a dash-joined key into its first n fields; the result
    re-aggregates to counts the oracle computes with string_split."""
    from pyspark.sql.functions import AnalyzeArgument, AnalyzeResult, lit, udtf
    from pyspark.sql.types import StringType, StructType

    @udtf
    class SplitFields:
        @staticmethod
        def analyze(s: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            schema = StructType()
            for i in range(int(n.value)):
                schema = schema.add(f"c{i}", StringType())
            return AnalyzeResult(schema=schema)

        def __init__(self, analyze_result=None):
            self._n = (
                len(analyze_result.schema) if analyze_result is not None else 2
            )

        def eval(self, s: str, n: int):
            parts = (s or "").split("-")
            yield tuple((parts + [""] * n)[:n])

    spark.udtf.register("bfcms_split_fields", SplitFields)
    ev = load(spark, sf_dir, "events")
    iso_dow = ((F.dayofweek("ts") + 5) % 7) + 1
    # Spread the row-at-a-time UDTF eval: the one-row-group fixture
    # otherwise runs the whole LATERAL's Python loop in a single task
    # (r13 profile: 1.3 s one-task stage). The downstream aggregation is
    # a plain count — partition-invariant.
    keyed = ev.select(
        F.concat_ws(
            "-",
            F.col("event_type"),
            F.hour("ts").cast("string"),
            iso_dow.cast("string"),
        ).alias("k")
    ).repartition(spark.sparkContext.defaultParallelism)
    keyed.createOrReplaceTempView("bfcms_udtf_keys")
    out = spark.sql(
        "SELECT f.c0, f.c1 FROM bfcms_udtf_keys, "
        "LATERAL bfcms_split_fields(k, 2) f"
    )
    return (
        out.groupBy("c0", "c1")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("c0", "c1")
    )


@query(
    "pandas_udaf_window_trailing_mean",
    oracle="""
    -- twin of the pandas UDAF evaluated as a WINDOW function: trailing
    -- 7-row mean of each type's daily counts. Integer window sums are
    -- exact in float64 on both sides, so the means match bit-for-bit.
    WITH daily AS (
      SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, c,
           ROUND(AVG(c) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS trail_mean
    FROM daily ORDER BY event_type, day
    """,
)
def pandas_udaf_window_trailing_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A pandas UDAF evaluated OVER A WINDOW (the bounded-frame grouped-
    aggregate pandas UDF execution mode — B31-33's last uncovered
    surface): trailing 7-day mean of per-type daily counts, Arrow-shipped
    one frame per row. Integer counts sum exactly in float64, so the
    Python-side mean is bit-identical to the oracle's window AVG."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def trail_mean(v: pd.Series) -> float:
        return float(v.sum()) / len(v)

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    return daily.select(
        "event_type",
        "day",
        "c",
        F.round(trail_mean(F.col("c")).over(w), 6).alias("trail_mean"),
    ).orderBy("event_type", "day")
