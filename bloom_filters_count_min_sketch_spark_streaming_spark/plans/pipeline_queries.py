"""Training-data pipeline queries (round 3).

Corpus-hygiene operators a large-scale LLM data pipeline runs between raw
crawl and tokenization, each expressed Spark-first and oracle-checked:

- ``text_repetition_stats``  — Gopher-style repetition signals (top-token /
  top-bigram / type-token ratios) per document.
- ``pii_redaction_stats``    — regex PII redaction (emails, phone numbers)
  with audit counts per source.
- ``priority_sample_docs``   — weighted sampling without replacement via
  priority sampling (Duffield-Lund-Thorup): priority = w/u with a
  hash-derived uniform, engine-portable and reproducible.
- ``dedup_incremental_ingest`` — the incremental-ingest shape: dedup an
  incoming batch against the corpus-at-rest, first-wins inside the batch.
- ``bucketed_join_agg``      — co-located (bucketed) join: both sides
  pre-bucketed on the join key so the join runs with NO shuffle exchange.
- ``kmeans_embeddings``      — distributed Lloyd iterations over the
  embedding column (operators/clustering.py); rows-only (iterative, not
  SQL-expressible), invariants property-tested.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bloom_filters_count_min_sketch_spark_streaming_spark.operators.clustering import (
    coreset_kmeans_profile,
    kmeans_cluster_profile,
)
from bloom_filters_count_min_sketch_spark_streaming_spark.plans.registry import query
from bloom_filters_count_min_sketch_spark_streaming_spark.sources.io import load
from bloom_filters_count_min_sketch_spark_streaming_spark.streaming.runner import (
    _ephemeral_ckpt,
)

# ---------------------------------------------------------------------------
# Gopher-style repetition signals


@query(
    "text_repetition_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(ws) AS w FROM toks
    ), cnt AS (
      SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2
    ), uni AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
             CAST(MAX(c) AS BIGINT) AS max_tok,
             CAST(COUNT(*) AS BIGINT) AS n_types
      FROM cnt GROUP BY 1
    ), bg AS (
      SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS b
      FROM toks WHERE len(ws) >= 2
    ), bcnt AS (
      SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2
    ), bagg AS (
      SELECT doc_id, CAST(MAX(c) AS BIGINT) AS max_big FROM bcnt GROUP BY 1
    )
    SELECT u.doc_id AS doc_id, n_tok,
           ROUND(max_tok::DOUBLE / n_tok, 4) AS top_token_ratio,
           ROUND(max_big::DOUBLE / (n_tok - 1), 4) AS top_bigram_ratio,
           ROUND(n_types::DOUBLE / n_tok, 4) AS type_token_ratio,
           CASE WHEN max_tok::DOUBLE / n_tok > 0.08
                  OR n_types::DOUBLE / n_tok < 0.25
                THEN 1 ELSE 0 END AS gopher_flag
    FROM uni u JOIN bagg USING (doc_id)
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (Gopher rules, Rae et al. 2021):
    fraction of tokens in the most frequent token / bigram, type-token
    ratio, and a combined flag. Two wordcount-shaped aggregations (map-side
    partial combine; shuffle keyed on (doc_id, gram) — no skew: grams are
    per-document). Ratios are single IEEE divisions of exact integers, so
    both engines compute bit-identical doubles before the ROUND."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(F.split(F.lower(F.col("text")), " "), lambda w: w != "").alias("ws"),
    )
    cnt = (
        toks.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    uni = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tok"),
        F.max("c").cast("long").alias("max_tok"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    # bigrams: zip the token list with itself shifted by one (small per-row
    # arrays — the interpreted-HOF caveat applies to long arrays, not these)
    bigrams = toks.filter(F.size("ws") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(ws, 1, size(ws)-1), slice(ws, 2, size(ws)-1),"
                " (x, y) -> concat(x, ' ', y))"
            )
        ).alias("b"),
    )
    bagg = (
        bigrams.groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").cast("long").alias("max_big"))
    )
    top_tok = F.col("max_tok").cast("double") / F.col("n_tok")
    ttr = F.col("n_types").cast("double") / F.col("n_tok")
    return (
        uni.join(bagg, "doc_id")
        .select(
            "doc_id",
            "n_tok",
            F.round(top_tok, 4).alias("top_token_ratio"),
            F.round(F.col("max_big").cast("double") / (F.col("n_tok") - 1), 4).alias(
                "top_bigram_ratio"
            ),
            F.round(ttr, 4).alias("type_token_ratio"),
            F.when((top_tok > 0.08) | (ttr < 0.25), 1).otherwise(0).alias("gopher_flag"),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"

_PII_ORACLE = """
    WITH aug AS (
      SELECT source,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com or +1-202-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      FROM documents
    ), red AS (
      SELECT source, t,
             regexp_replace(regexp_replace(t, '%EMAIL%', '<EMAIL>', 'g'),
                            '%PHONE%', '<PHONE>', 'g') AS r,
             len(regexp_extract_all(t, '%EMAIL%')) AS n_email,
             len(regexp_extract_all(t, '%PHONE%')) AS n_phone
      FROM aug
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_email) AS BIGINT) AS emails_redacted,
           CAST(SUM(n_phone) AS BIGINT) AS phones_redacted,
           CAST(SUM(length(t) - length(r)) AS BIGINT) AS chars_removed
    FROM red GROUP BY source
""".replace("%EMAIL%", _EMAIL_RE).replace("%PHONE%", _PHONE_RE)
# (DuckDB string literals don't process backslash escapes, so the Python
# regex strings drop in verbatim — no re-escaping.)


@query("pii_redaction_stats", oracle=_PII_ORACLE)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit: deterministic synthetic PII (derived from doc_id —
    the fixtures carry none) is appended to each document, then redacted
    with engine-portable regexes (character classes only — identical
    semantics in Java regex and RE2). Per-source counts of redacted
    emails/phones and characters removed. Pure JVM expressions
    (regexp_replace / regexp_extract_all) — no Python in the row path."""
    docs = load(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1-202-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    d = docs.select(
        "source",
        aug.alias("t"),
        F.regexp_replace(
            F.regexp_replace(aug, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
        ).alias("r"),
        F.size(F.regexp_extract_all(aug, F.lit(_EMAIL_RE), F.lit(0))).alias("n_email"),
        F.size(F.regexp_extract_all(aug, F.lit(_PHONE_RE), F.lit(0))).alias("n_phone"),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_email").cast("long").alias("emails_redacted"),
        F.sum("n_phone").cast("long").alias("phones_redacted"),
        F.sum(F.length("t") - F.length("r")).cast("long").alias("chars_removed"),
    )


# ---------------------------------------------------------------------------
# Weighted sampling


@query(
    "priority_sample_docs",
    oracle="""
    WITH s AS (
      SELECT doc_id, n_chars,
             ROUND(n_chars::DOUBLE * 4294967296.0
                   / (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1),
                   4) AS priority
      FROM documents
    )
    SELECT doc_id, n_chars, priority
    FROM s ORDER BY priority DESC, doc_id LIMIT 50
    """,
)
def priority_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement via priority sampling
    (Duffield, Lund & Thorup, JACM 2007): each row gets priority w/u with
    u ~ Uniform(0,1]; the k largest priorities are a weighted sample. u is
    derived from md5(doc_id) — a hash, not an engine RNG — so the sample
    is reproducible across engines, retries, and incremental reruns.
    Single TakeOrderedAndProject (no full sort); w = n_chars.

    The w*2^32/u_int form keeps everything an exact float64 op (w*2^32 is
    an exact product below 2^53; one division) so both engines compute the
    identical double before the ROUND."""
    docs = load(spark, sf_dir, "documents")
    u_int = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        + 1
    )
    pri = F.round(
        F.col("n_chars").cast("double") * F.lit(4294967296.0) / u_int.cast("double"), 4
    )
    return (
        docs.select("doc_id", "n_chars", pri.alias("priority"))
        .orderBy(F.desc("priority"), "doc_id")
        .limit(50)
    )


@query(
    "weighted_sample_table_merge",
    oracle="""
    -- priority sampling as a MERGEABLE sketch table (Duffield-Lund-Thorup
    -- JACM 2007 + mergeable-summaries algebra): each ingest-day partial
    -- keeps its k+1 largest priorities (w/u, u hash-derived), the global
    -- sample is the top-k of the union (the global (k+1)-th priority is
    -- always inside some day's top k+1, so tau survives the merge), and
    -- the subset-sum estimator sum(max(w, tau)) is unbiased for total
    -- weight. All selection happens on ROUND(priority, 4) with a doc_id
    -- tie-break -> identical in both engines.
    WITH d AS (
      SELECT doc_id, n_chars, doc_id % 7 AS day,
             ROUND(n_chars::DOUBLE * 4294967296.0
                   / (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1),
                   4) AS priority
      FROM documents
    ), p AS (
      SELECT * FROM (
        SELECT d.*, row_number() OVER (PARTITION BY day
                                       ORDER BY priority DESC, doc_id) AS rn
        FROM d
      ) WHERE rn <= 21
    ), r AS (
      SELECT doc_id, n_chars, priority,
             row_number() OVER (ORDER BY priority DESC, doc_id) AS rnk
      FROM p
    ), t AS (SELECT MAX(CASE WHEN rnk = 21 THEN priority END) AS tau FROM r)
    SELECT r.doc_id, CAST(r.rnk AS BIGINT) AS rnk,
           ROUND(GREATEST(r.n_chars::DOUBLE, t.tau), 4) AS contrib,
           CAST(SUM(CAST(ROUND(GREATEST(r.n_chars::DOUBLE, t.tau), 4)
                         AS DECIMAL(28,4))) OVER () AS DOUBLE) AS est_total
    FROM r CROSS JOIN t
    WHERE r.rnk <= 20
    ORDER BY rnk
    """,
)
def weighted_sample_table_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling AT REST: per-ingest-day priority-sample partials
    (each keeps its k+1 largest w/u priorities — O(k) rows/day), merged by
    re-truncation, with the Duffield-Lund-Thorup subset-sum estimator
    sum(max(w, tau)) emitted per sampled row. The k+1-th retained row is
    what makes the table MERGEABLE: the global threshold tau is provably
    inside the union of per-day partials. At 100 TB each new partition
    appends k+1 rows and any subset-sum question is answerable from the
    sample table without rescanning history; hash-portable priorities
    make the whole pipeline engine-reproducible."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.plans.sketch_queries import (
        bottom_k_partials,
    )

    k = 20
    docs = load(spark, sf_dir, "documents")
    u_int = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        + 1
    )
    pri = F.round(
        F.col("n_chars").cast("double") * F.lit(4294967296.0) / u_int.cast("double"),
        4,
    )
    d = docs.select(
        "doc_id", "n_chars", (F.col("doc_id") % 7).alias("day"), pri.alias("priority")
    )
    partials = bottom_k_partials(
        d, ["day"], k + 1, [F.desc("priority"), F.col("doc_id")]
    )
    w_all = Window.orderBy(F.desc("priority"), "doc_id")
    ranked = partials.withColumn("rnk", F.row_number().over(w_all))
    tau = ranked.agg(
        F.max(F.when(F.col("rnk") == k + 1, F.col("priority"))).alias("tau")
    )
    contrib = F.round(F.greatest(F.col("n_chars").cast("double"), F.col("tau")), 4)
    w_tot = Window.partitionBy(F.lit(1))
    return (
        ranked.filter(F.col("rnk") <= k)
        .crossJoin(F.broadcast(tau))
        .select(
            "doc_id",
            F.col("rnk").cast("long").alias("rnk"),
            contrib.alias("contrib"),
        )
        .withColumn(
            "est_total",
            F.sum(F.col("contrib").cast("decimal(28,4)")).over(w_tot).cast("double"),
        )
        .orderBy("rnk")
    )


# ---------------------------------------------------------------------------
# Incremental-ingest dedup


@query(
    "dedup_incremental_ingest",
    oracle="""
    WITH hist AS (
      SELECT DISTINCT md5(lower(text)) AS h FROM documents WHERE doc_id < 400
    ), inc AS (
      SELECT doc_id, md5(lower(text)) AS h FROM documents WHERE doc_id >= 400
    ), firsts AS (
      SELECT doc_id, h FROM (
        SELECT doc_id, h,
               row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        FROM inc
      ) WHERE rn = 1
    )
    SELECT doc_id, h FROM firsts WHERE h NOT IN (SELECT h FROM hist)
    """,
)
def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: accept only incoming docs (doc_id >= 400)
    whose content hash is new vs the corpus-at-rest (doc_id < 400),
    first-wins within the batch. The anti-join shuffles on the hash — at
    100 TB put a Bloom filter of the historical hashes in front of it
    (contamination_bloom_gate is that device) so the at-rest side is never
    re-shuffled for a small batch."""
    docs = load(spark, sf_dir, "documents")
    h = F.md5(F.lower(F.col("text"))).alias("h")
    hist = docs.filter(F.col("doc_id") < 400).select(h).distinct()
    inc = docs.filter(F.col("doc_id") >= 400).select("doc_id", h)
    w = Window.partitionBy("h").orderBy("doc_id")
    firsts = (
        inc.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")
    )
    return firsts.join(hist, "h", "left_anti").select("doc_id", "h")


# ---------------------------------------------------------------------------
# Bucketed (co-located) join


@query(
    "bucketed_join_agg",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_price
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def bucketed_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join two tables pre-bucketed on the join key: bucketing makes the
    join (and any later aggregation on the same key) exchange-free — the
    layout investment that pays on every subsequent query. Both sides are
    written once with bucketBy(8, custkey) into an external path; the scan
    reports the bucket spec and the SortMergeJoin runs without a shuffle
    on either side (asserted in tests/test_scale_shapes.py). At 100 TB
    this is the difference between re-shuffling 100 TB per join and zero."""
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_").replace("-", "_")
    # Stable on purpose (not a tmp_snapshot_dir): the bucketed tables stay
    # in the session catalog after the query, pointing at this location, and
    # the layout is written once per session; a dir released after every
    # query would make each later call rewrite both sides.
    wh = os.path.join(tempfile.gettempdir(), "bfcms_bucketed", tag)
    cust_t, ord_t = f"bfcms_bucketed_customer_{tag}", f"bfcms_bucketed_orders_{tag}"
    existing = {t.name for t in spark.catalog.listTables()}
    # one-time layout: write both sides bucketed on the join key
    if cust_t not in existing or not os.path.isdir(os.path.join(wh, cust_t)):
        (
            load(spark, sf_dir, "customer")
            .select("c_custkey", "c_mktsegment")
            .write.mode("overwrite")
            .format("parquet")
            .option("path", os.path.join(wh, cust_t))
            .bucketBy(8, "c_custkey")
            .sortBy("c_custkey")
            .saveAsTable(cust_t)
        )
    if ord_t not in existing or not os.path.isdir(os.path.join(wh, ord_t)):
        (
            load(spark, sf_dir, "orders")
            .select("o_custkey", "o_totalprice")
            .write.mode("overwrite")
            .format("parquet")
            .option("path", os.path.join(wh, ord_t))
            .bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .saveAsTable(ord_t)
        )
    cust = spark.table(cust_t)
    orders = spark.table(ord_t)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# K-means (iterative — rows-only, no SQL oracle)


@query("kmeans_embeddings", witness="kmeans_identity_exact")
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding column: 5 iterations,
    k=8, deterministic hash-min init. Assignment is an Arrow-batched numpy
    matmul per partition; the update shuffles only k x dim decimal partial
    sums. Iterative -> no ANSI-SQL oracle (driver records rows-only);
    determinism and invariants are property-tested."""
    emb = load(spark, sf_dir, "embeddings")
    return kmeans_cluster_profile(emb, "vec_id", "embedding", k=8, n_iter=5)


@query(
    "kmeans_identity_exact",
    oracle="""
    -- Lloyd's k-means exactness witness (the saturation discipline
    -- applied to clustering): with k = n distinct points, the hash-min
    -- init seeds every point as its own centroid, each point's nearest
    -- centroid is itself (distance 0 beats any positive distance), the
    -- update step returns each centroid to its own point, and the
    -- fixed point is the identity clustering — cluster i IS the i-th
    -- point in md5(vec_id) order (the init's deterministic ranking), so
    -- every cluster has exactly 1 point and inertia 0. This puts the
    -- whole distributed Lloyd path (hash-min init, Arrow-batched argmin
    -- assignment, k x dim decimal update shuffle, inertia profile)
    -- under the value hash.
    SELECT CAST(ROW_NUMBER() OVER (
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
             AS INTEGER) AS cluster,
           CAST(1 AS BIGINT) AS n_points,
           CAST(0.0 AS DOUBLE) AS inertia
    FROM embeddings WHERE vec_id < 40
    ORDER BY cluster
    """,
)
def kmeans_identity_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means exactness witness: the same kmeans_cluster_profile code
    path as kmeans_embeddings, run in the SATURATED regime k = n — every
    point becomes its own centroid at init (hash-min ranking over ALL n
    rows), assignment is the identity (self-distance 0 is the unique
    argmin once vectors are asserted distinct), and Lloyd's update is a
    fixed point, so the profile must be n singleton clusters with
    inertia 0 and cluster ids equal to the md5(vec_id) rank. Distinct-
    vector saturation is asserted in-query (countDistinct pre-pass, the
    histogram_numeric_saturated_exact discipline); the k << n regime of
    the SAME code path stays rows-only in kmeans_embeddings with its
    property tests, and the coreset path has its own full-coverage
    witness (kmeans_coreset_full_exact)."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 40)
    chk = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.col("embedding").cast("string")).alias("nd"),
    ).first()
    n = int(chk["n"])
    assert n > 0 and int(chk["nd"]) == n, (
        "witness regime broken: duplicate vectors in the slice — the "
        "identity argmin is no longer unique"
    )
    return kmeans_cluster_profile(emb, "vec_id", "embedding", k=n, n_iter=2)


# ---------------------------------------------------------------------------
# Custom Python data source (Spark 4 DataSource API)


@query(
    "source_python_datasource",
    oracle="""
    SELECT CAST(id % 16 AS INTEGER) AS bucket,
           COUNT(*) AS n,
           CAST(SUM((id * 48271) % 100003) AS BIGINT) AS v_sum
    FROM generate_series(0, 99999) t(id)
    GROUP BY 1
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan a user-defined Python data source (Spark 4 DataSource API):
    the source declares its schema, plans its own partitions (8 here, each
    generated independently on an executor), and produces rows without any
    data at rest. The generator is a pure integer function of the row id,
    so the DuckDB oracle reproduces the identical table closed-form from
    generate_series."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.sources.pysource import (
        register,
    )

    register(spark)
    src = spark.read.format("bfcms_synth").option("rows", 100000).load()
    return src.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast("long")).cast("long").alias("v_sum"),
    )


# ---------------------------------------------------------------------------
# Correlated LATERAL subquery (SQL surface)


_LATERAL_SQL = """
    SELECT n_name, c_custkey, acctbal
    FROM nation,
    LATERAL (
      SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal
      FROM customer
      WHERE c_nationkey = n_nationkey
      ORDER BY c_acctbal DESC, c_custkey
      LIMIT 3
    )
"""


@query("lateral_join_topk", oracle=_LATERAL_SQL)
def lateral_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: per-nation top-3 customers by balance.
    The same SQL text runs on both engines (LATERAL is ANSI). Catalyst
    rewrites the correlated limit into a ranked window over a single
    shuffle — i.e. the declarative form costs the same as the hand-written
    window top-k (window_top3_orders_per_customer), which is the point:
    users can write either."""
    for t in ("nation", "customer"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_SQL)


# ---------------------------------------------------------------------------
# Recursive CTE: connected components over near-dup candidate pairs

_EDGES_SQL = """
      SELECT doc_a, doc_b FROM (
        WITH toks AS (
          SELECT doc_id, list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
          FROM documents
        ), sh AS (
          SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                 for i in range(1, len(ws)-1)]) AS s
          FROM toks WHERE len(ws) >= 3
        ), sets AS (SELECT DISTINCT doc_id, s FROM sh),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sets GROUP BY doc_id),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
          FROM sets a JOIN sets b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b
        FROM pairs
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
      )
"""

_COMPONENTS_RECURSION = """
    WITH RECURSIVE
    edges AS ({edges}),
    undirected AS (
      SELECT doc_a AS src, doc_b AS dst FROM edges
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM edges
    ),
    walk (node, label, depth) AS (
      SELECT src, src, 0 FROM undirected
      UNION ALL
      SELECT u.src, w.label, w.depth + 1
      FROM undirected u JOIN walk w ON u.dst = w.node
      WHERE w.depth < 6 AND w.label < u.src
    )
    SELECT node AS doc_id, MIN(label) AS component
    FROM walk GROUP BY node
"""


@query(
    "recursive_cte_components",
    oracle=_COMPONENTS_RECURSION.format(edges=_EDGES_SQL),
)
def recursive_cte_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the 3-gram-Jaccard near-dup graph via a
    recursive CTE (Spark 4 WITH RECURSIVE) — the declarative twin of
    dedup_cluster_assignment's iterative label propagation. Bounded
    min-label walk: depth 6 covers any component whose diameter is < 6
    hops (fixture components are size <= 3; the iterative operator is the
    unbounded-diameter path at scale). The identical SQL text runs on
    DuckDB: same recursion, same fixpoint."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.8, snapshot=True).select("doc_a", "doc_b")
    # materialize the edge list once — every recursion step re-reads it,
    # and without the checkpoint each step would replay the shingle join
    pairs = pairs.localCheckpoint(eager=True)
    pairs.createOrReplaceTempView("bfcms_near_dup_edges")
    return spark.sql(
        _COMPONENTS_RECURSION.format(edges="SELECT doc_a, doc_b FROM bfcms_near_dup_edges")
    )


# ---------------------------------------------------------------------------
# Custom Python *streaming* source (Spark 4 DataSource API, C1)


@query(
    "stream_python_datasource",
    oracle="""
    SELECT CAST(id % 16 AS INTEGER) AS bucket,
           COUNT(*) AS n,
           CAST(SUM((id * 48271) % 100003) AS BIGINT) AS v_sum
    FROM generate_series(0, 999) t(id)
    GROUP BY 1
    """,
)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded scan of a user-defined Python *stream* source
    (SimpleDataSourceStreamReader): offsets are micro-batch indexes, rows
    are generated per batch, and readBetweenOffsets replays any offset
    range deterministically — the exactly-once recovery contract. Ten
    100-row micro-batches aggregate to the same closed-form table the
    DuckDB oracle computes from generate_series. availableNow only drains
    the one prefetched batch for simple stream readers, so the run uses a
    fast processing-time trigger and stops at the (bounded) source's end.
    """
    import time
    import uuid

    from pyspark.sql.streaming import StreamingQueryException

    from bloom_filters_count_min_sketch_spark_streaming_spark.sources.pysource import (
        register_stream,
    )

    register_stream(spark)
    n_batches, rows_per_batch = 10, 100
    total = n_batches * rows_per_batch
    src = (
        spark.readStream.format("bfcms_synth_stream")
        .option("rowsPerBatch", rows_per_batch)
        .option("batches", n_batches)
        .load()
    )
    agg = src.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast("long")).cast("long").alias("v_sum"),
    )
    name = f"synth_stream_{uuid.uuid4().hex[:8]}"
    # run_available_now's shuffle sizing, inlined: 32 partitions per
    # 100-row micro-batch is pure state-commit overhead x10 batches
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(processingTime="50 milliseconds")
        .option("checkpointLocation", _ephemeral_ckpt())
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            done = spark.sql(f"SELECT COALESCE(SUM(n), 0) AS s FROM {name}").collect()[0]["s"]
            if done >= total:
                break
            time.sleep(0.1)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
        try:
            q.stop()
            q.awaitTermination(30)
        except StreamingQueryException as exc:
            # stop() can surface the query's own terminal exception; the
            # results were already drained above, but don't hide it
            import sys

            print(f"# stream stop(): {exc}", file=sys.stderr)
    return spark.table(name)


# ---------------------------------------------------------------------------
# Deterministic train/val/test split


@query(
    "dataset_split_stats",
    oracle="""
    -- hash-bucket split: bucket = first 4 hex chars of md5(doc_id) mod 100
    WITH b AS (
      SELECT doc_id, lang, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 AS bkt
      FROM documents
    )
    SELECT CASE WHEN bkt < 80 THEN 'train'
                WHEN bkt < 90 THEN 'valid' ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM b GROUP BY 1
    """,
)
def dataset_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content-independent hash
    bucketing (md5(doc_id) mod 100 -> 80/10/10). The split is a pure
    projection — no shuffle, no RNG, reproducible across engines, retries,
    and incremental reruns, and any engine can recompute membership from
    the id alone (the property eval-set hygiene depends on). The audit agg
    is one map-side-combined shuffle over 3 keys."""
    docs = load(spark, sf_dir, "documents")
    bkt = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bkt < 80, "train").when(bkt < 90, "valid").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "n_chars", "lang")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
    )


# ---------------------------------------------------------------------------
# Per-domain frequency caps


@query(
    "domain_frequency_caps",
    oracle="""
    -- cap each domain (source) at 8 docs, chosen by hash-min rank so the
    -- survivors are a deterministic uniform-ish subset
    WITH r AS (
      SELECT source, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN rn <= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn <= 8 THEN n_chars ELSE 0 END) AS BIGINT)
             AS kept_chars
    FROM r GROUP BY 1
    """,
)
def domain_frequency_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain frequency caps (RefinedWeb-style): keep at most K docs
    per domain, selected by hash-min ranking (deterministic, engine-
    portable, no RNG state). One hash-partitioned window per domain — at
    100 TB the heavy-domain skew is bounded because rank state is O(1) per
    partition stream; a top-K-per-group partial aggregation would avoid
    even materializing the over-cap tail."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    r = docs.select("source", "n_chars", F.row_number().over(w).alias("rn"))
    kept = F.when(F.col("rn") <= 8, 1).otherwise(0)
    return r.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept).cast("long").alias("n_kept"),
        F.sum(F.when(F.col("rn") <= 8, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("kept_chars"),
    )


# ---------------------------------------------------------------------------
# Language-balanced resampling


@query(
    "language_balanced_resample",
    oracle="""
    -- downsample every language to the size of the smallest: rate_l =
    -- min_count / count_l; keep doc when its hash-uniform u < rate_l.
    -- u and rate are exact integer divisions -> bit-identical doubles.
    WITH c AS (
      SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1
    ), m AS (
      SELECT MIN(cnt) AS mn FROM c
    ), scored AS (
      SELECT d.lang,
             (('0x' || substr(md5('lb:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
              % 10000) / 10000.0 AS u,
             mn::DOUBLE / cnt AS rate
      FROM documents d JOIN c USING (lang) CROSS JOIN m
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN u < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ROUND(ANY_VALUE(rate), 4) AS rate
    FROM scored GROUP BY 1
    """,
)
def language_balanced_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced resampling (data-mixing): compute per-language
    sampling rates that equalize the mix to the smallest language, then
    apply them with a hash-derived uniform — two aggregation passes and a
    broadcast join of the (5-row) rate table against the corpus; no
    collect, no RNG. At 100 TB the rate table is still O(#languages), so
    the apply pass stays a map-only scan."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    mn = counts.agg(F.min("cnt").alias("mn"))
    rates = F.broadcast(
        counts.crossJoin(F.broadcast(mn)).select(
            "lang", (F.col("mn").cast("double") / F.col("cnt")).alias("rate")
        )
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("lb:"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 10000
    ) / 10000.0
    scored = docs.join(rates, "lang").select("lang", u.alias("u"), "rate")
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("u") < F.col("rate"), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.round(F.any_value("rate"), 4).alias("rate"),
    )


# ---------------------------------------------------------------------------
# BPE-training inner loop: weighted adjacent-pair counts


@query(
    "bpe_pair_counts",
    oracle="""
    -- the BPE training inner loop: count adjacent symbol pairs inside each
    -- word, weighted by word frequency; top pairs become merges
    WITH tok AS (
      SELECT unnest(list_filter(string_split(lower(text), ' '), w -> w <> ''))
             AS w
      FROM documents
    ), wc AS (
      SELECT w, COUNT(*) AS c FROM tok GROUP BY 1
    ), pairs AS (
      SELECT unnest([substr(w, i, 2) for i in range(1, length(w))]) AS pair, c
      FROM wc WHERE length(w) >= 2
    )
    SELECT pair, CAST(SUM(c) AS BIGINT) AS n
    FROM pairs GROUP BY 1
    ORDER BY n DESC, pair LIMIT 30
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First iteration of byte-pair-encoding training (Sennrich et al.
    2016): adjacent character-pair counts weighted by word frequency. Two
    wordcount-shaped aggregations: corpus -> distinct-word counts (the
    heavy shuffle, map-side combined), then pairs are generated from the
    DISTINCT word table — work proportional to vocabulary, not corpus, the
    same trick a real BPE trainer uses. Top-30 via TakeOrderedAndProject
    (no global sort)."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), " "), lambda w: w != "")
        ).alias("w")
    )
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    pairs = (
        wc.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
            ).alias("pair"),
            "c",
        )
        .groupBy("pair")
        .agg(F.sum("c").cast("long").alias("n"))
    )
    return pairs.orderBy(F.desc("n"), "pair").limit(30)


# ---------------------------------------------------------------------------
# SCD2 dimension merge (CDC upsert)


@query(
    "scd2_dimension_merge",
    oracle="""
    -- slowly-changing-dimension type 2 merge: a change batch (every 7th
    -- customer gets a new balance effective 2024-06-01) applied to the
    -- current snapshot; changed keys end-date the old version and open a
    -- new current one
    WITH chg AS (
      SELECT c_custkey, ROUND(c_acctbal + 100.0, 2) AS new_bal
      FROM customer WHERE c_custkey % 7 = 0
    )
    SELECT c.c_custkey,
           ROUND(c.c_acctbal, 2) AS acctbal,
           '2024-01-01' AS valid_from,
           CASE WHEN g.c_custkey IS NULL THEN '9999-12-31'
                ELSE '2024-06-01' END AS valid_to,
           CASE WHEN g.c_custkey IS NULL THEN 1 ELSE 0 END AS is_current
    FROM customer c LEFT JOIN chg g USING (c_custkey)
    UNION ALL
    SELECT c_custkey, new_bal AS acctbal,
           '2024-06-01' AS valid_from, '9999-12-31' AS valid_to, 1 AS is_current
    FROM chg
    """,
)
def scd2_dimension_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert into a slowly-changing dimension (SCD type 2): old
    versions are end-dated, new versions opened as current — the MERGE
    WHEN MATCHED / NOT MATCHED pattern expressed as a broadcast left join
    plus a union (no MERGE INTO needed without a transactional table
    format; with Delta/Iceberg the same plan runs under MERGE). The change
    batch is broadcast (dim-sized); the snapshot side never shuffles —
    the shape that scales to a 100 TB fact-backed dimension."""
    cust = load(spark, sf_dir, "customer")
    chg = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", F.round(F.col("c_acctbal") + 100.0, 2).alias("new_bal")
    )
    old = (
        cust.join(F.broadcast(chg), "c_custkey", "left")
        .select(
            "c_custkey",
            F.round("c_acctbal", 2).alias("acctbal"),
            F.lit("2024-01-01").alias("valid_from"),
            F.when(F.col("new_bal").isNull(), "9999-12-31")
            .otherwise("2024-06-01")
            .alias("valid_to"),
            F.when(F.col("new_bal").isNull(), 1).otherwise(0).alias("is_current"),
        )
    )
    new = chg.select(
        "c_custkey",
        F.col("new_bal").alias("acctbal"),
        F.lit("2024-06-01").alias("valid_from"),
        F.lit("9999-12-31").alias("valid_to"),
        F.lit(1).alias("is_current"),
    )
    return old.unionAll(new)


# ---------------------------------------------------------------------------
# End-to-end corpus curation (composition flagship)

from bloom_filters_count_min_sketch_spark_streaming_spark.functions import text as T

_STOPS_SQL = "('" + "','".join(T.EN_STOPWORDS) + "')"


@query(
    "corpus_curation_e2e",
    oracle=f"""
    -- the full curation cascade in one statement: exact dedup -> quality
    -- gate -> per-domain cap -> language balancing -> hash split -> audit
    WITH kept AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(lower(text))
    ), gated AS (
      SELECT d.doc_id, d.lang, d.source, d.n_chars
      FROM documents d JOIN kept USING (doc_id)
      WHERE len(list_filter(string_split(lower(d.text), ' '), w -> w IN {_STOPS_SQL}))
              * 1.0 / len(list_filter(string_split(lower(d.text), ' '), w -> w <> '')) >= 0.05
        AND length(regexp_replace(d.text, '[A-Za-z0-9\\s]', '', 'g'))
              * 1.0 / length(d.text) <= 0.2
    ), capped AS (
      SELECT doc_id, lang, n_chars FROM (
        SELECT *, row_number() OVER (
          PARTITION BY source
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM gated
      ) WHERE rn <= 20
    ), c AS (
      SELECT lang, COUNT(*) AS cnt FROM capped GROUP BY 1
    ), m AS (SELECT MIN(cnt) AS mn FROM c),
    balanced AS (
      SELECT d.doc_id, d.lang, d.n_chars
      FROM capped d JOIN c USING (lang) CROSS JOIN m
      WHERE (('0x' || substr(md5('lb:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
             % 10000) / 10000.0 < mn::DOUBLE / cnt
    )
    SELECT CASE WHEN bkt < 80 THEN 'train'
                WHEN bkt < 90 THEN 'valid' ELSE 'test' END AS split,
           lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT lang, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100
               AS bkt
      FROM balanced
    ) GROUP BY 1, 2
    """,
)
def corpus_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE declarative plan — exact dedup,
    quality gate, per-domain caps, language balancing, deterministic
    split, audit aggregation — so Catalyst sees every stage at once:
    the gate's predicates are pushed into the post-join project, the
    5-row rate table broadcasts, and no stage materializes an
    intermediate. This is the composition story: each operator is also a
    standalone query (llm_corpus_pipeline, domain_frequency_caps,
    language_balanced_resample, dataset_split_stats), and chaining them
    costs exactly their shuffles — dedup groupBy, id re-join, cap window,
    count agg, final audit agg — nothing else."""
    docs = load(spark, sf_dir, "documents")
    kept = (
        docs.groupBy(F.md5(F.lower("text")).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    gated = docs.join(kept, "doc_id").filter(
        (T.stopword_ratio(F.col("text")) >= 0.05)
        & (T.punct_ratio(F.col("text")) <= 0.2)
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    capped = (
        gated.select("doc_id", "lang", "source", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .drop("rn", "source")
    )
    counts = capped.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    mn = counts.agg(F.min("cnt").alias("mn"))
    rates = F.broadcast(
        counts.crossJoin(F.broadcast(mn)).select(
            "lang", (F.col("mn").cast("double") / F.col("cnt")).alias("rate")
        )
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("lb:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 10000
    ) / 10000.0
    balanced = capped.join(rates, "lang").filter(u < F.col("rate"))
    bkt = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 100
    )
    split = F.when(bkt < 80, "train").when(bkt < 90, "valid").otherwise("test")
    return (
        balanced.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@query(
    "temperature_resample_rates",
    oracle="""
    -- temperature-scaled mixture weights (mT5 / XLM-R style, alpha=0.7):
    -- q_l ∝ p_l^alpha flattens the language distribution; boost = q/p is
    -- the per-language up/down-sampling factor the apply pass would use
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    t AS (SELECT SUM(n) AS tot FROM c),
    s AS (SELECT SUM(POWER(n * 1.0 / tot, 0.7)) AS z FROM c, t)
    SELECT lang, CAST(n AS BIGINT) AS n_docs,
           ROUND(n * 1.0 / tot, 6) AS p,
           ROUND(POWER(n * 1.0 / tot, 0.7) / z, 6) AS q,
           ROUND((POWER(n * 1.0 / tot, 0.7) / z) / (n * 1.0 / tot), 4) AS boost
    FROM c, t, s
    """,
)
def temperature_resample_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based data-mixing weights (alpha=0.7): per-language
    sampling probability q_l ∝ p_l^alpha, flattening the head languages —
    the standard multilingual-pretraining mixture policy. Two scalar
    aggregates (total, normalizer) broadcast-cross-joined back to the
    #languages-row count table; the whole computation is O(#languages)
    after one count pass, so the rate table stays broadcastable at any
    corpus size. Complements language_balanced_resample (equalize-to-min
    policy) with the standard temperature policy."""
    docs = load(spark, sf_dir, "documents")
    alpha = 0.7
    c = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("tot"))
    c_t = c.crossJoin(F.broadcast(t))
    s = c_t.agg(F.sum(F.pow(F.col("n") / F.col("tot"), alpha)).alias("z"))
    p = F.col("n") / F.col("tot")
    q = F.pow(p, alpha) / F.col("z")
    return c_t.crossJoin(F.broadcast(s)).select(
        "lang",
        F.col("n").cast("long").alias("n_docs"),
        F.round(p, 6).alias("p"),
        F.round(q, 6).alias("q"),
        F.round(q / p, 4).alias("boost"),
    )


# ---------------------------------------------------------------------------
# BPE training loop + application (operators/bpe.py)

# Merge table for the oracle-backed apply query: the first 8 merges the
# distributed trainer learns on the sf0.01 corpus (count desc, pair asc
# tie-break); step 5 merges a previously-merged symbol ('m'+'er'), so the
# chain exercises the recursive case. Fixed here so the apply semantics are
# expressible as literal REPLACEs in both engines at any sf.
_BPE_FIXED_MERGES = [
    ("e", "r"),
    ("i", "n"),
    ("o", "w"),
    ("o", "r"),
    ("s", "t"),
    ("m", "er"),
    ("a", "t"),
    ("l", "u"),
]


def _bpe_train_oracle(num_merges: int) -> str:
    """Unrolled BPE-training oracle: one MATERIALIZED CTE pair per merge
    iteration (m{i} = weighted argmax pair, seg{i+1} = re-segmented vocab).

    Re-segmentation uses the space-join identity the module docstring in
    operators/bpe.py states: applying merge (a, b) as one left-to-right
    pass over non-overlapping adjacent symbol pairs == replacing the
    DELIMITED ' a b ' with ' ab ' in the space-joined symbol string —
    twice, because a replacement consumes the shared delimiter of an
    immediately following occurrence (the second pass catches those; two
    passes always suffice since pass-1 misses are never adjacent). The
    identity requires a != b for every learned merge (with a == b,
    occurrences can OVERLAP and the delimiter scan picks a different
    non-overlapping set than the symbol scan for runs >= 5) — the query
    asserts that regime on its result, so a corpus that ever learns an
    a == b merge raises instead of silently hash-diverging. Every
    per-iteration CTE is referenced more than once downstream -> all
    MATERIALIZED (the r6 exponential-re-evaluation lesson, CLAUDE.md).
    range() cannot take lateral args in DuckDB 1.0, so pair positions
    come from a literal range(1, 100) filtered by j < len(toks) (words
    are whitespace tokens; far shorter than 100 chars)."""
    parts = [
        """WITH wc AS MATERIALIZED (
  SELECT ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' ' AS s,
         COUNT(*) AS c
  FROM (SELECT unnest(list_filter(string_split(lower(text), ' '),
                                  w -> w <> '')) AS w
        FROM documents)
  GROUP BY w
), seg0 AS MATERIALIZED (SELECT s, c FROM wc)"""
    ]
    for i in range(num_merges):
        parts.append(f""", m{i} AS MATERIALIZED (
  SELECT a, b, CAST(SUM(c) AS BIGINT) AS n FROM (
    SELECT c, toks[j] AS a, toks[j+1] AS b FROM (
      SELECT c, string_split(trim(s), ' ') AS toks FROM seg{i}),
      range(1, 100) t(j)
    WHERE j < len(toks))
  GROUP BY a, b ORDER BY n DESC, a, b LIMIT 1)""")
        if i < num_merges - 1:
            parts.append(f""", seg{i + 1} AS MATERIALIZED (
  SELECT REPLACE(REPLACE(s,
    (SELECT ' '||a||' '||b||' ' FROM m{i}),
    (SELECT ' '||a||b||' ' FROM m{i})),
    (SELECT ' '||a||' '||b||' ' FROM m{i}),
    (SELECT ' '||a||b||' ' FROM m{i})) AS s, c
  FROM seg{i})""")
    sel = " UNION ALL ".join(
        f'SELECT CAST({i} AS INTEGER) AS step, a AS "left", b AS "right", '
        f"a||b AS merged, n FROM m{i}"
        for i in range(num_merges)
    )
    parts.append(f" SELECT * FROM ({sel}) ORDER BY step")
    return "".join(parts)


_BPE_NUM_MERGES = 8


@query("bpe_train_merges", oracle=_bpe_train_oracle(_BPE_NUM_MERGES))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE training (Sennrich et al. 2016): 8 merge iterations.
    One corpus-scale pass builds the distinct-word frequency table; each
    iteration re-segments the cached VOCAB with the merges so far (Arrow
    UDF), counts adjacent pairs weighted by word frequency, and collects
    exactly one argmax row — driver state like k-means, lineage constant
    across iterations. Hash-checked against an unrolled MATERIALIZED-CTE
    oracle (one argmax + re-segmentation CTE pair per iteration; the
    space-join REPLACE identity needs every learned merge to have
    left != right, asserted here so a regime break raises loudly);
    equivalence with a pure-Python reference BPE is ALSO
    pytest-asserted."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.operators import bpe

    docs = load(spark, sf_dir, "documents")
    res = bpe.train_merges(docs, num_merges=_BPE_NUM_MERGES)
    rows = res.collect()
    assert len(rows) == _BPE_NUM_MERGES and all(
        r["left"] != r["right"] for r in rows
    ), (
        "oracle regime broken: a learned merge has left == right (the "
        "delimited-REPLACE identity does not hold for overlapping runs) "
        "or training exhausted pairs early"
    )
    return res


@query(
    "bpe_apply_fixed_merges",
    oracle="""
    -- apply a FIXED 8-merge BPE table: space-join the chars, one literal
    -- REPLACE per merge (left-to-right non-overlapping scan == the BPE
    -- merge pass), count resulting subword tokens per language
    WITH tok AS (
      SELECT lang,
             unnest(list_filter(string_split(lower(text), ' '), w -> w <> ''))
               AS w
      FROM documents
    ), seg AS (
      SELECT lang,
             REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(
               trim(regexp_replace(w, '(.)', '\\1 ', 'g')),
               'e r', 'er'), 'i n', 'in'), 'o w', 'ow'), 'o r', 'or'),
               's t', 'st'), 'm er', 'mer'), 'a t', 'at'), 'l u', 'lu') AS s
      FROM tok
    )
    SELECT lang,
           COUNT(*) AS n_words,
           CAST(SUM(len(string_split(s, ' '))) AS BIGINT) AS total_tokens,
           ROUND(SUM(len(string_split(s, ' '))) * 1.0 / COUNT(*), 6)
             AS avg_tokens_per_word
    FROM seg GROUP BY lang
    """,
)
def bpe_apply_fixed_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE application with a fixed merge table (the table the trainer
    learns at sf0.01): stateless map-only segmentation — chars space-joined
    then one literal JVM-side REPLACE per merge — aggregated to per-language
    subword counts. The apply pass a tokenizing pipeline runs at corpus
    scale; zero Python in the hot path."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.operators import bpe

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(F.filter(F.split(F.lower("text"), " "), lambda w: w != "")).alias("w")
    )
    seg = toks.select(
        "lang", bpe.segment_expr(F.col("w"), _BPE_FIXED_MERGES).alias("toks")
    )
    return seg.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.size("toks")).cast("long").alias("total_tokens"),
        F.round(F.sum(F.size("toks")) / F.count(F.lit(1)), 6).alias(
            "avg_tokens_per_word"
        ),
    )


@query(
    "deletion_propagation_audit",
    oracle="""
    -- right-to-be-forgotten propagation: a deletion-request set (synthetic:
    -- every 37th doc) removes the requested docs AND every byte-identical
    -- copy (same content fingerprint) anywhere in the corpus; audit per
    -- source. A requested doc always fingerprint-matches itself, so
    -- deleted == fp-match; copies = fp-match minus direct.
    WITH d AS (
      SELECT doc_id, source, md5(lower(text)) AS fp FROM documents
    ), req AS (
      SELECT fp FROM d WHERE doc_id % 37 = 0
    ), flags AS (
      SELECT d.source,
             (d.doc_id % 37 = 0) AS direct,
             (d.fp IN (SELECT fp FROM req)) AS fpm
      FROM d
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN direct THEN 1 ELSE 0 END) AS BIGINT)
             AS n_direct_deleted,
           CAST(SUM(CASE WHEN fpm AND NOT direct THEN 1 ELSE 0 END) AS BIGINT)
             AS n_copies_deleted,
           CAST(SUM(CASE WHEN NOT fpm THEN 1 ELSE 0 END) AS BIGINT)
             AS n_remaining
    FROM flags GROUP BY source
    """,
)
def deletion_propagation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-governance deletion propagation: requested doc_ids are removed
    together with every byte-identical copy (content-fingerprint match) in
    the corpus, audited per source. The request set is tiny in practice ->
    broadcast join on the fingerprint; the corpus side is one map-side
    fingerprint computation + hash-agg. No full-corpus shuffle."""
    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "source", F.md5(F.lower("text")).alias("fp"),
        (F.col("doc_id") % 37 == 0).alias("direct"),
    )
    req_fps = d.filter("direct").select("fp").distinct()
    flags = d.join(
        F.broadcast(req_fps.withColumn("_hit", F.lit(True))), "fp", "left"
    ).select(
        "source", "direct", F.coalesce(F.col("_hit"), F.lit(False)).alias("fpm")
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("direct").cast("long")).cast("long").alias("n_direct_deleted"),
        F.sum((F.col("fpm") & ~F.col("direct")).cast("long"))
        .cast("long")
        .alias("n_copies_deleted"),
        F.sum((~F.col("fpm")).cast("long")).cast("long").alias("n_remaining"),
    )


@query(
    "quality_token_budget",
    oracle="""
    -- Token-budget curation: per language, take documents in quality order
    -- (type-token ratio DESC, doc_id tie-break) while the running token
    -- count stays within a 3000-token budget — the greedy "best docs until
    -- the budget is spent" selection every pretraining mix uses. The
    -- running SUM is over a totally-ordered ROWS frame (order-identical in
    -- both engines); window SUM(BIGINT) is HUGEINT in DuckDB -> CAST.
    WITH t AS (
      SELECT doc_id, lang,
             len(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS n_tok,
             len(list_distinct(list_filter(string_split(lower(text), ' '), w -> w <> ''))) AS n_uniq
      FROM documents
    ), scored AS (
      SELECT doc_id, lang, n_tok,
             ROUND(n_uniq * 1.0 / n_tok, 6) AS quality
      FROM t WHERE n_tok > 0
    ), cum AS (
      SELECT lang, n_tok,
             SUM(n_tok) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
      FROM scored
    ), tot AS (
      SELECT lang, COUNT(*) AS total_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens
      FROM scored GROUP BY lang
    ), kept AS (
      SELECT lang, COUNT(*) AS kept_docs, CAST(SUM(n_tok) AS BIGINT) AS kept_tokens
      FROM cum WHERE cum_tok <= 3000 GROUP BY lang
    )
    SELECT t.lang, kept_docs, kept_tokens, total_docs, total_tokens,
           ROUND(kept_tokens * 1.0 / total_tokens, 4) AS token_share
    FROM tot t JOIN kept USING (lang)
    ORDER BY lang
    """,
)
def quality_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-language token-budget selection: rank docs by a quality
    signal (type-token ratio), keep the running-token prefix that fits a
    3000-token budget. One shuffle on lang (the window), one aggregate —
    at 100 TB the same plan holds because the window partitions by lang
    and the per-doc token stats are map-side projections."""
    docs = load(spark, sf_dir, "documents")
    toks = T.word_tokens(F.col("text"))
    t = docs.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
    ).filter(F.col("n_tok") > 0)
    scored = t.select(
        "doc_id",
        "lang",
        "n_tok",
        F.round(F.col("n_uniq") * 1.0 / F.col("n_tok"), 6).alias("quality"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = scored.withColumn("cum_tok", F.sum("n_tok").over(w))
    tot = scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
    )
    kept = (
        cum.filter(F.col("cum_tok") <= 3000)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.sum("n_tok").cast("long").alias("kept_tokens"),
        )
    )
    return (
        tot.join(kept, "lang")
        .select(
            "lang",
            "kept_docs",
            "kept_tokens",
            "total_docs",
            "total_tokens",
            F.round(F.col("kept_tokens") * 1.0 / F.col("total_tokens"), 4).alias(
                "token_share"
            ),
        )
        .orderBy("lang")
    )


@query(
    "corpus_divergence_kl",
    oracle="""
    -- Per-source token-distribution drift: KL(p_source || p_corpus) in
    -- bits. q > 0 wherever p > 0 (the corpus distribution includes every
    -- source). p, q and p/q are exact-integer divisions (identical doubles
    -- in both engines); log2 can differ in the last ulp -> each term is
    -- ROUNDed at 1e-8 first, then summed as DECIMAL so order can't matter.
    WITH toks AS (
      SELECT source,
             unnest(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS term
      FROM documents
    ), st AS (
      SELECT source, term, COUNT(*) AS tf FROM toks GROUP BY source, term
    ), stot AS (
      SELECT source, CAST(SUM(tf) AS BIGINT) AS s_tot FROM st GROUP BY source
    ), g AS (
      SELECT term, CAST(SUM(tf) AS BIGINT) AS gf FROM st GROUP BY term
    ), gtot AS (
      SELECT CAST(SUM(tf) AS BIGINT) AS g_tot FROM st
    ), terms AS (
      SELECT st.source,
             ROUND((st.tf * 1.0 / stot.s_tot)
                   * log2((st.tf * 1.0 / stot.s_tot) / (g.gf * 1.0 / gtot.g_tot)),
                   8) AS c
      FROM st
      JOIN stot USING (source)
      JOIN g USING (term)
      CROSS JOIN gtot
    )
    SELECT t.source, stot.s_tot AS n_tokens,
           CAST(SUM(CAST(c AS DECIMAL(28,8))) AS DOUBLE) AS kl_bits
    FROM terms t JOIN stot ON t.source = stot.source
    GROUP BY t.source, stot.s_tot
    ORDER BY t.source
    """,
)
def corpus_divergence_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit: KL divergence (bits) between each source's
    token distribution and the whole-corpus distribution — the "is this
    source unlike the rest of the mix" signal used for mixture weighting
    and drift monitoring.

    Scale shape: two wordcount aggregations (source x term, term) off one
    explode, a broadcastable term-frequency join (|vocab| rows), and scalar
    totals — no doc-pair joins, everything partial-aggregated map-side."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(T.word_tokens(F.col("text"))).alias("term")
    )
    st = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    st = st.persist()
    stot = st.groupBy("source").agg(F.sum("tf").cast("long").alias("s_tot"))
    g = st.groupBy("term").agg(F.sum("tf").cast("long").alias("gf"))
    # corpus-total scalar fused into the plan as a broadcast 1-row join
    # (not .collect()ed — keeps construction lazy, one job at execution)
    gtot = F.broadcast(st.agg(F.sum("tf").cast("double").alias("g_tot")))
    p = F.col("tf") * 1.0 / F.col("s_tot")
    q = F.col("gf") * 1.0 / F.col("g_tot")
    terms = (
        st.join(F.broadcast(stot), "source")
        .join(g, "term")
        .crossJoin(gtot)
        .select("source", F.round(p * F.log2(p / q), 8).alias("c"))
    )
    out = (
        terms.groupBy("source")
        .agg(F.sum(F.col("c").cast("decimal(28,8)")).cast("double").alias("kl_bits"))
        .join(F.broadcast(stot), "source")
        .select("source", F.col("s_tot").alias("n_tokens"), "kl_bits")
        .orderBy("source")
    )
    return out


@query(
    "compression_ratio_quality",
    no_witness_reason=(
        "zlib DEFLATE has no SQL twin in DuckDB; invariants pinned by "
        "property tests instead"
    ),
)
def compression_ratio_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal (CCNet / RefinedWeb-style filter):
    zlib-compressed size over raw utf-8 size per document — highly
    repetitive (low-ratio) docs are boilerplate/spam candidates. zlib at a
    fixed level is bit-deterministic, so the query is reproducible, but no
    SQL engine exposes it -> rows-only for the driver; pytest verifies the
    Spark output against direct python zlib on the same parquet
    (tests/test_pipeline_ops.py::test_compression_ratio_matches_zlib).

    Scale shape: embarrassingly parallel Arrow-batched map (one zlib call
    per doc), then one small aggregate per source."""
    import pandas as pd
    import zlib

    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    # no type hints: `from __future__ import annotations` breaks pandas_udf
    # hint inference (returnType is explicit)
    @F.pandas_udf("double")
    def zratio(texts):
        def r(t):
            raw = t.encode("utf-8")
            if not raw:
                return 1.0
            return round(len(zlib.compress(raw, 6)) / len(raw), 6)

        return texts.map(r)

    scored = docs.select("source", zratio(F.col("text")).alias("ratio"))
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.sum(F.col("ratio").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_ratio"),
            F.sum((F.col("ratio") < 0.35).cast("long")).cast("long").alias(
                "n_repetitive"
            ),
        )
        .orderBy("source")
    )


@query(
    "priority_sample_per_lang",
    oracle="""
    -- per-group weighted sampling without replacement: priority = w / u
    -- (Duffield-Lund-Thorup) with the md5-portable uniform; top-3 PER
    -- LANGUAGE via one window — the stratified variant of
    -- priority_sample_docs
    WITH pr AS (
      SELECT lang, doc_id, n_chars,
             n_chars / ((('0x' || substr(md5('ps-' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT + 1)
                        / 281474976710656.0) AS priority
      FROM documents
    )
    SELECT lang, doc_id, n_chars,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY priority DESC, doc_id)
               AS rnk
      FROM pr
    ) WHERE rnk <= 3
    ORDER BY lang, rnk
    """,
)
def priority_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified weighted sampling: 3 docs per language, inclusion odds
    proportional to length (priority sampling, seed 'ps-'), reproducible
    across engines/runs from the doc id alone. One hash-shuffle on lang +
    a window; no RNG state, no coordination — the per-stratum sampling
    primitive for building balanced eval slices."""
    docs = load(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ps-"), F.col("doc_id").cast("string"))), 1, 12
            ),
            16,
            10,
        ).cast("long")
        + F.lit(1)
    ).cast("double") / F.lit(float(2**48))
    pr = docs.select(
        "lang", "doc_id", "n_chars", (F.col("n_chars") / u).alias("priority")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("priority"), "doc_id")
    return (
        pr.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("lang", "doc_id", "n_chars", F.col("rnk").cast("long").alias("rnk"))
        .orderBy("lang", "rnk")
    )


@query(
    "scd2_as_of_lookup",
    oracle="""
    -- point-in-time (temporal) lookup against the SCD2 dimension built by
    -- scd2_dimension_merge: each fact probes the version valid AT its
    -- as-of date via a validity-range join (ISO date strings compare
    -- lexicographically). Exactly one version matches per (key, date).
    WITH chg AS (
      SELECT c_custkey, ROUND(c_acctbal + 100.0, 2) AS new_bal
      FROM customer WHERE c_custkey % 7 = 0
    ),
    dim AS (
      SELECT c.c_custkey, ROUND(c.c_acctbal, 2) AS acctbal,
             '2024-01-01' AS valid_from,
             CASE WHEN g.c_custkey IS NULL THEN '9999-12-31'
                  ELSE '2024-06-01' END AS valid_to
      FROM customer c LEFT JOIN chg g USING (c_custkey)
      UNION ALL
      SELECT c_custkey, new_bal, '2024-06-01', '9999-12-31' FROM chg
    ),
    facts AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 2 = 0 THEN '2024-03-01'
                  ELSE '2024-08-01' END AS as_of
      FROM orders WHERE o_custkey < 1000
    )
    SELECT f.as_of,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(d.acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM facts f
    JOIN dim d ON d.c_custkey = f.o_custkey
              AND f.as_of >= d.valid_from AND f.as_of < d.valid_to
    GROUP BY f.as_of ORDER BY f.as_of
    """,
)
def scd2_as_of_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (point-in-time) join: facts probe the SCD2 dimension AS OF
    their own date, so March orders see the original balance and August
    orders see the post-change version — the lookup every
    feature-backfill / training-data join must get right to avoid
    time-travel leakage. Validity-range join = equi-join on the key plus a
    range predicate; the dim broadcasts, and at scale the range predicate
    prunes to exactly one version per probe."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    chg = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", F.round(F.col("c_acctbal") + 100.0, 2).alias("new_bal")
    )
    old = cust.join(F.broadcast(chg), "c_custkey", "left").select(
        "c_custkey",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.lit("2024-01-01").alias("valid_from"),
        F.when(F.col("new_bal").isNull(), "9999-12-31")
        .otherwise("2024-06-01")
        .alias("valid_to"),
    )
    new = chg.select(
        "c_custkey",
        F.col("new_bal").alias("acctbal"),
        F.lit("2024-06-01").alias("valid_from"),
        F.lit("9999-12-31").alias("valid_to"),
    )
    dim = old.unionAll(new)
    facts = orders.filter(F.col("o_custkey") < 1000).select(
        "o_orderkey",
        "o_custkey",
        F.when(F.col("o_orderkey") % 2 == 0, "2024-03-01")
        .otherwise("2024-08-01")
        .alias("as_of"),
    )
    return (
        facts.join(
            F.broadcast(dim),
            (facts.o_custkey == dim.c_custkey)
            & (F.col("as_of") >= F.col("valid_from"))
            & (F.col("as_of") < F.col("valid_to")),
        )
        .groupBy("as_of")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_bal"),
        )
        .orderBy("as_of")
    )


_ER_RECORDS_SQL = """
      SELECT c_custkey * 2 AS rid, c_name AS name,
             ROUND(c_acctbal, 2) AS bal, 'crm' AS src
      FROM customer WHERE c_custkey < 800
      UNION ALL
      SELECT c_custkey * 2 + 1 AS rid,
             'Customer%' || substr(c_name, 10) AS name,
             ROUND(c_acctbal, 2) AS bal, 'web' AS src
      FROM customer WHERE c_custkey < 800 AND c_custkey % 5 = 0
"""

_ER_SQL = """
    WITH RECURSIVE
    records AS ({records}),
    blocked AS (
      -- block on the digit suffix: stable under the planted prefix typo,
      -- distinct per entity -> blocks of size <= 2
      SELECT rid, name, bal, substr(name, 10) AS blk
      FROM records
    ),
    edges AS (
      SELECT a.rid AS ra, b.rid AS rb
      FROM blocked a JOIN blocked b
        ON a.blk = b.blk AND a.rid < b.rid
      WHERE levenshtein(a.name, b.name) <= 1
    ),
    undirected AS (
      SELECT ra AS src, rb AS dst FROM edges
      UNION ALL
      SELECT rb AS src, ra AS dst FROM edges
    ),
    walk (node, label, depth) AS (
      SELECT src, src, 0 FROM undirected
      UNION ALL
      SELECT u.src, w.label, w.depth + 1
      FROM undirected u JOIN walk w ON u.dst = w.node
      WHERE w.depth < 4 AND w.label < u.src
    ),
    comp AS (SELECT node, MIN(label) AS component FROM walk GROUP BY node),
    clustered AS (
      SELECT COALESCE(c.component, r.rid) AS component, r.rid, r.name, r.bal
      FROM records r LEFT JOIN comp c ON c.node = r.rid
    )
    SELECT component,
           COUNT(*) AS n_members,
           MIN(name) AS canonical_name,
           CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM clustered
    GROUP BY component
    HAVING COUNT(*) >= 2
    ORDER BY component
"""


@query("entity_resolution_e2e", oracle=_ER_SQL.format(records=_ER_RECORDS_SQL))
def entity_resolution_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: two source systems emit overlapping
    customer records (every 5th record reappears with a one-character
    typo); BLOCKING on the name prefix bounds the candidate space,
    edit-distance <= 1 inside blocks yields match edges, a recursive-CTE
    min-label walk clusters them, and the golden record aggregates each
    cluster (canonical name, merged balance). The standard MDM pipeline —
    blocking is what makes it 100 TB-shaped: the pair space is
    sum-of-block-sizes², never |records|², and blocks hash-partition.

    The identical WITH RECURSIVE text runs on both engines (Spark 4
    recursive CTE; records/edges inlined so the oracle is self-contained).
    """
    load(spark, sf_dir, "customer").createOrReplaceTempView("er_customer")
    return spark.sql(
        _ER_SQL.format(records=_ER_RECORDS_SQL.replace("customer", "er_customer"))
    )


@query(
    "negative_sampling_pairs",
    oracle="""
    -- contrastive-training negative sampling: per (user, item) positive,
    -- 3 hash-derived candidate negatives in the same item space; any
    -- candidate that collides with one of the user's OWN positives is
    -- removed (anti-join), the standard rejection step. All md5 integer
    -- arithmetic -> fully deterministic, no RNG state.
    WITH pos AS (
      SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey % 100 AS item
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_custkey < 50
    ),
    cand AS (
      SELECT p.user_id, p.item,
             (('0x' || substr(md5(CAST(p.user_id AS VARCHAR) || ':'
                                  || CAST(p.item AS VARCHAR) || ':'
                                  || CAST(i AS VARCHAR)), 1, 12))::BIGINT) % 100
               AS neg_item
      FROM pos p CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS i) r
    ),
    neg AS (
      SELECT c.user_id, c.neg_item
      FROM cand c
      WHERE NOT EXISTS (
        SELECT 1 FROM pos q
        WHERE q.user_id = c.user_id AND q.item = c.neg_item
      )
    )
    SELECT p.user_id,
           CAST(COUNT(DISTINCT p.item) AS BIGINT) AS n_pos,
           CAST(ANY_VALUE(n.n_neg) AS BIGINT) AS n_neg
    FROM pos p
    JOIN (SELECT user_id, COUNT(*) AS n_neg FROM neg GROUP BY user_id) n
      USING (user_id)
    GROUP BY p.user_id ORDER BY p.user_id
    """,
)
def negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive / two-tower
    training: 3 hash-derived negatives per positive interaction, with the
    user's own positives rejected by an anti-join — reproducible across
    engines, retries, and cluster sizes because the 'randomness' is a
    content hash, never an RNG. Scale shape: one map to expand candidates,
    one key-partitioned anti-join; no coordination, no sampling state."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    pos = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("o_custkey") < 50)
        .select(
            F.col("o_custkey").alias("user_id"),
            (F.col("l_partkey") % 100).alias("item"),
        )
        .distinct()
        .persist()
    )
    cand = pos.select(
        "user_id",
        "item",
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("i"),
    ).select(
        "user_id",
        "item",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("user_id").cast("string"),
                            F.col("item").cast("string"),
                            F.col("i").cast("string"),
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("long")
            % 100
        ).alias("neg_item"),
    )
    neg = cand.join(
        pos.select("user_id", F.col("item").alias("neg_item")),
        ["user_id", "neg_item"],
        "left_anti",
    )
    n_neg = neg.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n_neg"))
    n_pos = pos.groupBy("user_id").agg(
        F.count_distinct("item").cast("long").alias("n_pos")
    )
    return n_pos.join(n_neg, "user_id").orderBy("user_id")


def _logreg_iter_sql(i: int) -> str:
    """One unrolled gradient-descent iteration: decimal-summed per-row
    gradient terms (rounded at 1e-6 so a last-ulp exp() difference
    between engines cannot flip a rounding), weight update at lr=1.0."""
    return f"""
    g{i} AS (
      SELECT CAST(SUM(CAST(ROUND(1.0 / (1.0 + exp(-(w.a + w.b * d.x))) - d.y, 6)
                           AS DECIMAL(28,6))) AS DOUBLE) / (SELECT n FROM nn) AS ga,
             CAST(SUM(CAST(ROUND((1.0 / (1.0 + exp(-(w.a + w.b * d.x))) - d.y) * d.x, 6)
                           AS DECIMAL(28,6))) AS DOUBLE) / (SELECT n FROM nn) AS gb
      FROM d CROSS JOIN w{i} w
    ),
    w{i + 1} AS (SELECT w.a - 1.0 * g.ga AS a, w.b - 1.0 * g.gb AS b
                 FROM w{i} w CROSS JOIN g{i} g)"""


@query(
    "logreg_gd_click_model",
    oracle=f"""
    -- distributed logistic regression, 4 full-batch gradient-descent
    -- iterations UNROLLED: each iteration is one decimal-summed gradient
    -- aggregate + a closed-form weight update, mirrored step for step.
    -- sigma(0)=0.5 seeds iteration 1; accuracy uses the exp-free
    -- decision rule z > 0.
    WITH d AS (
      SELECT value / 1024.0 AS x,
             CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END AS y
      FROM events
    ),
    nn AS (SELECT COUNT(*) AS n FROM d),
    w0 AS (SELECT 0.0 AS a, 0.0 AS b),
    {','.join(_logreg_iter_sql(i) for i in range(4))}
    SELECT (SELECT CAST(n AS BIGINT) FROM nn) AS n,
           ROUND((SELECT a FROM w4), 6) AS w0,
           ROUND((SELECT b FROM w4), 6) AS w1,
           ROUND(SUM(CASE WHEN ((SELECT a FROM w4) + (SELECT b FROM w4) * d.x > 0)
                               = (d.y = 1.0)
                          THEN 1 ELSE 0 END) * 1.0 / (SELECT n FROM nn), 6)
             AS train_accuracy
    FROM d
    """,
)
def logreg_gd_click_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ML training as a first-class engine operation: logistic
    regression (is this event a click, from its value) by FULL-BATCH
    gradient descent — each iteration is ONE distributed aggregate (the
    map-side-combined gradient sum), the weight update is two scalars on
    the driver, the data never moves. 4 fixed iterations from w=(0,0),
    lr=1.0; per-row gradient terms are rounded then decimal-summed so the
    whole trajectory — and therefore the learned weights — is
    bit-reproducible across engines, which is what lets a TRAINING LOOP
    be value-hash-checked against SQL. At 100 TB this is the canonical
    shape: O(model) driver state, O(data) executor work per step.
    Decision rule for accuracy is the exp-free z > 0."""
    ev = load(spark, sf_dir, "events")
    d = ev.select(
        (F.col("value") / 1024.0).alias("x"),
        F.when(F.col("event_type") == "click", 1.0).otherwise(0.0).alias("y"),
    ).persist()
    n = 0  # training-set size: rides iteration 1's aggregate (one fewer action)
    a, b = 0.0, 0.0
    for it in range(4):
        z = F.lit(a) + F.lit(b) * F.col("x")
        resid = 1.0 / (1.0 + F.exp(-z)) - F.col("y")
        g = d.agg(
            F.sum(F.round(resid, 6).cast("decimal(28,6)")).cast("double").alias("ga"),
            F.sum(F.round(resid * F.col("x"), 6).cast("decimal(28,6)"))
            .cast("double")
            .alias("gb"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]  # bounded: one 3-scalar gradient row per iteration
        if it == 0:
            n = int(g["n"])  # bounded scalar; identical every iteration
        a -= 1.0 * (g["ga"] / n)
        b -= 1.0 * (g["gb"] / n)
    acc = d.agg(
        F.round(
            F.sum(
                (
                    ((F.lit(a) + F.lit(b) * F.col("x")) > 0) == (F.col("y") == 1.0)
                ).cast("int")
            )
            * 1.0
            / F.lit(n),
            6,
        ).alias("train_accuracy")
    )
    # quantize HALF_UP to match SQL ROUND (python round() is half-even)
    from decimal import ROUND_HALF_UP, Decimal

    def _r6(x: float) -> float:
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    return acc.select(
        F.lit(n).cast("long").alias("n"),
        F.lit(_r6(a)).alias("w0"),
        F.lit(_r6(b)).alias("w1"),
        "train_accuracy",
    )


@query(
    "stratified_neyman_sample",
    oracle="""
    -- Neyman-allocation stratified sampling: a 100-doc budget split
    -- across language strata proportionally to N_h * sigma_h (strata
    -- that are bigger OR more variable in n_chars get more budget) —
    -- the design that minimizes the variance of the stratified mean.
    -- sigma_h comes from exact integer moments; the N_h*sigma_h weights
    -- are rounded then decimal-summed; within-stratum selection is by
    -- engine-portable md5 rank.
    WITH s AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_h,
             sqrt((SUM(n_chars * n_chars) - SUM(n_chars) * 1.0 * SUM(n_chars)
                     / COUNT(*)) / COUNT(*)) AS sigma_h
      FROM documents GROUP BY lang
    ),
    w AS (
      SELECT lang, n_h, ROUND(n_h * sigma_h, 6) AS w_h FROM s
    ),
    tot AS (
      SELECT CAST(SUM(CAST(w_h AS DECIMAL(28,6))) AS DOUBLE) AS w_tot FROM w
    ),
    alloc AS (
      SELECT w.lang, w.n_h,
             CAST(ROUND(100.0 * w.w_h / tot.w_tot, 0) AS BIGINT) AS n_alloc
      FROM w CROSS JOIN tot
    ),
    ranked AS (
      SELECT d.lang, d.doc_id,
             row_number() OVER (PARTITION BY d.lang
               ORDER BY md5(CAST(d.doc_id AS VARCHAR) || '|ney'), d.doc_id)
               AS rnk
      FROM documents d
    )
    SELECT r.lang, r.doc_id, CAST(r.rnk AS BIGINT) AS rnk, a.n_h, a.n_alloc
    FROM ranked r JOIN alloc a USING (lang)
    WHERE r.rnk <= a.n_alloc
    ORDER BY r.lang, r.rnk
    """,
)
def stratified_neyman_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with NEYMAN ALLOCATION — the survey-statistics
    optimum that the existing equal-k and language-balanced samplers
    don't give: each language stratum receives budget proportional to
    N_h * sigma_h (its size times its n_chars spread), which minimizes
    the variance of the stratified mean estimator. Strata moments are
    exact integer aggregates; the allocation arithmetic and the md5
    within-stratum ranking are engine-portable, so the ENTIRE sample —
    membership and order — is value-hash-checked."""
    docs = load(spark, sf_dir, "documents")
    s = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("ssq"),
        F.sum("n_chars").alias("sx"),
    )
    sigma = F.sqrt(
        (F.col("ssq") - F.col("sx") * 1.0 * F.col("sx") / F.col("n_h"))
        / F.col("n_h")
    )
    w = s.select("lang", "n_h", F.round(F.col("n_h") * sigma, 6).alias("w_h"))
    tot = w.agg(
        F.sum(F.col("w_h").cast("decimal(28,6)")).cast("double").alias("w_tot")
    )
    alloc = w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_h",
        F.round(100.0 * F.col("w_h") / F.col("w_tot"), 0).cast("long").alias("n_alloc"),
    )
    from pyspark.sql import Window

    wr = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|ney"))), "doc_id"
    )
    ranked = docs.select(
        "lang", "doc_id", F.row_number().over(wr).cast("long").alias("rnk")
    )
    return (
        ranked.join(F.broadcast(alloc), "lang")
        .filter(F.col("rnk") <= F.col("n_alloc"))
        .select("lang", "doc_id", "rnk", "n_h", "n_alloc")
        .orderBy("lang", "rnk")
    )


@query(
    "dataset_mixture_planner",
    oracle="""
    -- pretraining data-mixture planning (the DoReMi/Pile-style step
    -- before any token moves): given per-source domain weights and a
    -- total char budget of 3x the corpus, derive each source's target
    -- share, its repeat factor (epochs > 1 = upsampled source, < 1 =
    -- downsampled), and the residual vs a single pass. Pure integer
    -- corpus stats + one exact division per source.
    WITH s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS chars_h,
             CAST(1 + CAST(substr(source, 4) AS BIGINT) % 4 AS BIGINT) AS w
      FROM documents GROUP BY source
    ),
    t AS (
      SELECT CAST(SUM(chars_h) AS BIGINT) AS chars_tot,
             CAST(SUM(w) AS BIGINT) AS w_tot
      FROM s
    )
    SELECT s.source, s.n_docs, s.chars_h, s.w AS weight,
           CAST(ROUND(3.0 * t.chars_tot * s.w / t.w_tot, 0) AS BIGINT)
             AS target_chars,
           ROUND(3.0 * t.chars_tot * s.w / t.w_tot / s.chars_h, 4) AS epochs
    FROM s CROSS JOIN t
    ORDER BY s.source
    """,
)
def dataset_mixture_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture planning (the third planner, after the LSH and sketch
    capacity planners): turn per-source domain weights + a char budget of
    3x the corpus into per-source target shares and repeat factors — the
    arithmetic that decides, before a single byte shuffles, which sources
    get upsampled (epochs > 1) and which truncated. One integer stats
    pass; everything else is broadcast-sized expression math."""
    docs = load(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_h"),
    ).withColumn(
        "w", (1 + F.substring("source", 4, 10).cast("long") % 4).cast("long")
    )
    t = s.agg(
        F.sum("chars_h").cast("long").alias("chars_tot"),
        F.sum("w").cast("long").alias("w_tot"),
    )
    target = 3.0 * F.col("chars_tot") * F.col("w") / F.col("w_tot")
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "source",
            "n_docs",
            "chars_h",
            F.col("w").alias("weight"),
            F.round(target, 0).cast("long").alias("target_chars"),
            F.round(target / F.col("chars_h"), 4).alias("epochs"),
        )
        .orderBy("source")
    )


@query(
    "feature_hashing_trick",
    oracle="""
    -- The hashing trick (Weinberger et al. ICML'09): categorical features
    -- map to a FIXED 64-dim vector via hash buckets with md5-derived
    -- signs — no vocabulary pass, no fit state, unseen categories land
    -- deterministically. Signed sums make collisions unbiased. Buckets
    -- and signs are md5-portable (the house convention), so the hashed
    -- design matrix column sums are exact integers in both engines.
    WITH feats AS (
      SELECT unnest(['type=' || event_type,
                     'hour=' || CAST(EXTRACT(hour FROM ts) AS VARCHAR),
                     'usermod=' || CAST(user_id % 100 AS VARCHAR)]) AS f
      FROM events
    ),
    hashed AS (
      SELECT CAST(CAST('0x' || substr(md5(f || '|b'), 1, 12) AS BIGINT) % 64
               AS BIGINT) AS bucket,
             CAST(CAST('0x' || substr(md5(f || '|s'), 1, 2) AS BIGINT) % 2 * 2 - 1
               AS BIGINT) AS sign
      FROM feats
    )
    SELECT bucket, CAST(SUM(sign) AS BIGINT) AS feat_sum,
           CAST(COUNT(*) AS BIGINT) AS n_terms
    FROM hashed GROUP BY bucket
    """,
)
def feature_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing ("the hashing trick"): three categorical features
    per event land in a fixed 64-bucket signed vector with NO vocabulary
    pass — the stateless encoder that makes streaming / incremental model
    featurization possible at 100 TB (an OOV category can never grow the
    feature space or desync train/serve encodings). One explode + one
    hash-agg, everything JVM-side expressions; md5-derived buckets and
    signs keep the hashed sums engine-exact."""
    ev = load(spark, sf_dir, "events")
    feats = ev.select(
        F.explode(
            F.array(
                F.concat(F.lit("type="), F.col("event_type")),
                F.concat(F.lit("hour="), F.hour("ts").cast("string")),
                F.concat(F.lit("usermod="), (F.col("user_id") % 100).cast("string")),
            )
        ).alias("f")
    )
    hashed = feats.select(
        (
            F.conv(F.substring(F.md5(F.concat(F.col("f"), F.lit("|b"))), 1, 12), 16, 10)
            .cast("long")
            % 64
        ).alias("bucket"),
        (
            F.conv(F.substring(F.md5(F.concat(F.col("f"), F.lit("|s"))), 1, 2), 16, 10)
            .cast("long")
            % 2
            * 2
            - 1
        ).alias("sign"),
    )
    return hashed.groupBy("bucket").agg(
        F.sum("sign").cast("long").alias("feat_sum"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
    )


@query(
    "dsir_importance_selection",
    oracle="""
    -- DSIR (Xie et al. 2023, "Data Selection for Language Models via
    -- Importance Resampling"): score every raw document by how much more
    -- likely its HASHED n-gram features are under the target domain
    -- (lang='en') than under the raw pool, then keep the top importance
    -- weights. Features = whitespace unigrams hashed to 256 md5 buckets;
    -- both distributions add-one smoothed; per-token log ratios
    -- ROUND@1e-8 then DECIMAL-summed per doc (the repo's float rule);
    -- top 100 docs by (weight desc, doc_id) total order.
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(list_filter(string_split(lower(text), ' '), w -> w <> ''))
               AS tok
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, lang,
             CAST(CAST('0x' || substr(md5(tok || '|dsir'), 1, 12) AS BIGINT)
               % 256 AS BIGINT) AS b
      FROM toks
    ),
    raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c_r FROM hashed GROUP BY b),
    tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c_t FROM hashed
            WHERE lang = 'en' GROUP BY b),
    tot AS (
      SELECT CAST(SUM(c_r) AS BIGINT) AS n_r,
             (SELECT CAST(SUM(c_t) AS BIGINT) FROM tgt) AS n_t
      FROM raw
    ),
    ratio AS (
      SELECT raw.b,
             ROUND(ln(((COALESCE(tgt.c_t, 0) + 1) * 1.0 / (tot.n_t + 256))
                      / ((raw.c_r + 1) * 1.0 / (tot.n_r + 256))), 8) AS lr
      FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot
    ),
    scored AS (
      SELECT h.doc_id, ANY_VALUE(h.lang) AS lang,
             CAST(SUM(CAST(r.lr AS DECIMAL(28,8))) AS DOUBLE) AS logw
      FROM hashed h JOIN ratio r ON h.b = r.b
      GROUP BY h.doc_id
    )
    SELECT doc_id, lang, ROUND(logw, 6) AS log_weight
    FROM scored ORDER BY logw DESC, doc_id LIMIT 100
    """,
)
def dsir_importance_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: hashed-n-gram importance resampling toward a
    target domain — the published recipe for "make the web corpus look
    like the target" (Xie et al. 2023) and the principled upgrade of
    dataset_mixture_planner's share-based mixing. One wordcount pass per
    distribution over 256 hashed buckets (bounded, broadcastable
    everywhere), per-doc log-weights as rounded-term decimal sums, total
    (weight, doc_id) order on the selection boundary — the chosen SET
    itself is value-hash-checked. At 100 TB: the bucket ratio table is
    KBs regardless of corpus size, scoring is one broadcast join over the
    token stream, selection one top-k."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.filter(F.split(F.lower("text"), " "), lambda w: w != "")).alias(
            "tok"
        ),
    )
    hashed = toks.select(
        "doc_id",
        "lang",
        (
            F.conv(
                F.substring(F.md5(F.concat(F.col("tok"), F.lit("|dsir"))), 1, 12),
                16,
                10,
            ).cast("long")
            % 256
        ).alias("b"),
    ).persist()
    raw = hashed.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("c_r"))
    tgt = (
        hashed.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("c_t"))
    )
    tot = raw.agg(F.sum("c_r").cast("long").alias("n_r")).crossJoin(
        tgt.agg(F.sum("c_t").cast("long").alias("n_t"))
    )
    ratio = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.round(
                F.log(
                    ((F.coalesce(F.col("c_t"), F.lit(0)) + 1) * 1.0 / (F.col("n_t") + 256))
                    / ((F.col("c_r") + 1) * 1.0 / (F.col("n_r") + 256))
                ),
                8,
            ).alias("lr"),
        )
    )
    scored = (
        hashed.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.sum(F.col("lr").cast("decimal(28,8)")).cast("double").alias("logw"),
        )
    )
    return (
        scored.orderBy(F.col("logw").desc(), "doc_id")
        .limit(100)
        .select("doc_id", "lang", F.round("logw", 6).alias("log_weight"))
    )


@query(
    "ipf_mixture_raking",
    oracle="""
    -- iterative proportional fitting (raking, Deming-Stephan 1940) of the
    -- corpus sampling weights: rake the source x lang contingency table so
    -- SOURCE marginals become uniform (balanced mixing) while LANG
    -- marginals keep their observed totals — the survey-statistics tool
    -- that turns "we want these marginals" into per-cell sampling weights.
    -- 3 unrolled iterations x 2 scaling steps; every scale ROUNDs@8 and
    -- every marginal is a DECIMAL window sum of rounded terms, so the
    -- float chain is engine-identical step for step.
    WITH c AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY source, lang
    ),
    t AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_src
      FROM c
    ),
    cl AS (
      SELECT lang, CAST(SUM(n) AS BIGINT) AS lang_total FROM c GROUP BY lang
    ),
    w0 AS (
      SELECT c.source, c.lang, c.n, t.total, t.n_src, cl.lang_total,
             ROUND(c.n * 1.0, 8) AS w
      FROM c CROSS JOIN t JOIN cl USING (lang)
    ),
    r1 AS (SELECT *, ROUND(w * (total * 1.0 / n_src)
             / CAST(SUM(CAST(w AS DECIMAL(28,8))) OVER (PARTITION BY source)
                    AS DOUBLE), 8) AS w1 FROM w0),
    s1 AS (SELECT *, ROUND(w1 * lang_total
             / CAST(SUM(CAST(w1 AS DECIMAL(28,8))) OVER (PARTITION BY lang)
                    AS DOUBLE), 8) AS w2 FROM r1),
    r2 AS (SELECT *, ROUND(w2 * (total * 1.0 / n_src)
             / CAST(SUM(CAST(w2 AS DECIMAL(28,8))) OVER (PARTITION BY source)
                    AS DOUBLE), 8) AS w3 FROM s1),
    s2 AS (SELECT *, ROUND(w3 * lang_total
             / CAST(SUM(CAST(w3 AS DECIMAL(28,8))) OVER (PARTITION BY lang)
                    AS DOUBLE), 8) AS w4 FROM r2),
    r3 AS (SELECT *, ROUND(w4 * (total * 1.0 / n_src)
             / CAST(SUM(CAST(w4 AS DECIMAL(28,8))) OVER (PARTITION BY source)
                    AS DOUBLE), 8) AS w5 FROM s2),
    s3 AS (SELECT *, ROUND(w5 * lang_total
             / CAST(SUM(CAST(w5 AS DECIMAL(28,8))) OVER (PARTITION BY lang)
                    AS DOUBLE), 8) AS w6 FROM r3)
    SELECT source, lang, n AS n_docs, ROUND(w6, 6) AS raked_weight,
           ROUND(w6 / n, 6) AS per_doc_factor
    FROM s3 ORDER BY source, lang
    """,
)
def ipf_mixture_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting of corpus sampling weights: the
    raking loop that reconciles two mixing requirements at once — uniform
    source shares (no source dominates training) AND preserved language
    totals (don't starve low-resource languages). Three alternating
    row/column scalings of the source x lang table, each step a grouped
    DECIMAL window sum of ROUND@8 terms, so the whole iterative float
    chain is reproduced bit-for-bit by the unrolled oracle — the same
    pattern logreg_gd_click_model uses for its gradient steps. The table
    is |sources| x |langs| cells regardless of corpus size: the loop cost
    never scales with rows."""
    docs = load(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = c.agg(
        F.sum("n").cast("long").alias("total"),
        F.count_distinct("source").cast("long").alias("n_src"),
    )
    cl = c.groupBy("lang").agg(F.sum("n").cast("long").alias("lang_total"))
    w = (
        c.crossJoin(F.broadcast(t))
        .join(F.broadcast(cl), "lang")
        .select("source", "lang", "n", "total", "n_src", "lang_total",
                F.round(F.col("n") * 1.0, 8).alias("w"))
    )
    w_src = Window.partitionBy("source")
    w_lang = Window.partitionBy("lang")
    cur = "w"
    for _ in range(3):
        nxt = cur + "r"
        w = w.withColumn(
            nxt,
            F.round(
                F.col(cur)
                * (F.col("total") * 1.0 / F.col("n_src"))
                / F.sum(F.col(cur).cast("decimal(28,8)")).over(w_src).cast("double"),
                8,
            ),
        )
        cur2 = nxt + "s"
        w = w.withColumn(
            cur2,
            F.round(
                F.col(nxt)
                * F.col("lang_total")
                / F.sum(F.col(nxt).cast("decimal(28,8)")).over(w_lang).cast("double"),
                8,
            ),
        )
        cur = cur2
    return w.select(
        "source",
        "lang",
        F.col("n").alias("n_docs"),
        F.round(F.col(cur), 6).alias("raked_weight"),
        F.round(F.col(cur) / F.col("n"), 6).alias("per_doc_factor"),
    ).orderBy("source", "lang")


@query("kmeans_coreset_fit", witness="kmeans_coreset_full_exact")
def kmeans_coreset_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means via LIGHTWEIGHT CORESET (Bachem et al., KDD 2018) — the
    shape that clusters 100 TB: one distributed pass builds a <= m-row
    weighted summary (q(x) = 1/(2n) + d(x, mean)^2 / 2*sum d^2, Poisson
    inclusion by a deterministic md5 uniform, weight 1/(m q)), weighted
    Lloyd runs on those m rows off the critical path, and one final pass
    audits the full data against the coreset model. The output holds the
    coreset's weighted size/inertia NEXT TO the full-data truth per
    cluster — the unbiasedness the paper guarantees, visible as data.
    Rows-only (iterative + sampled); unbiasedness and cost-competence are
    property-tested in tests/test_clustering.py."""
    emb = load(spark, sf_dir, "embeddings")
    return coreset_kmeans_profile(emb, k=8, m=128, n_iter=10)


@query(
    "kmeans_coreset_full_exact",
    oracle="""
    -- Coreset exactness witness: with m >= 2n, every point's inclusion
    -- probability min(1, m*q) is 1 (q >= 1/(2n)), so the Poisson draw
    -- keeps ALL rows and every Horvitz-Thompson weight is exactly 1 —
    -- the weighted Lloyd on the coreset IS plain Lloyd on the full data.
    -- The Spark side computes both trainers and compares their per-cluster
    -- profiles; the oracle pins the corpus size and the two invariants
    -- that must come out TRUE (the stream_cms_join_size assertion pattern
    -- for not-directly-SQL-expressible guarantees).
    SELECT CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_rows,
           TRUE AS all_weights_one,
           TRUE AS profile_matches_lloyd
    """,
)
def kmeans_coreset_full_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreset exactness witness (the ann_lsh_full_tables_exact pattern
    applied to the trainer family): at m >= 2n the lightweight coreset
    degenerates — by construction, not by luck — to the full dataset with
    all weights exactly 1, so coreset_kmeans_profile must reproduce the
    distributed Lloyd profile (kmeans_cluster_profile) cluster-for-cluster.
    Anything in the coreset machinery that biased q, the inclusion draw,
    or the HT weights would break the equality. The full-corpus collect
    here is the WITNESS configuration only (m is the knob; the production
    path is kmeans_coreset_fit's m=128 ≪ n)."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.operators.clustering import (
        kmeans_cluster_profile,
        lightweight_coreset,
    )

    emb = load(spark, sf_dir, "embeddings")
    n = emb.count()
    m = 2 * n
    weights_off = (
        lightweight_coreset(emb, m=m)
        .filter((F.col("w") < 0.9999999) | (F.col("w") > 1.0000001))
        .count()
    )
    core = coreset_kmeans_profile(emb, k=8, m=m, n_iter=5)
    lloyd = kmeans_cluster_profile(emb, k=8, n_iter=5)
    mismatches = (
        lloyd.join(core, "cluster", "full")
        .filter(
            (F.col("n_points") != F.col("n_full"))
            | (F.abs(F.col("inertia") - F.col("full_inertia")) > 1e-4)
        )
        .count()
    )
    return spark.createDataFrame(
        [(n, weights_off == 0, mismatches == 0)],
        "n_rows bigint, all_weights_one boolean, profile_matches_lloyd boolean",
    )


_FS_M = {"name": 0.9, "bal": 0.7, "fmt": 0.6}  # prior m-probabilities

# the ER record pair (crm + typo'd web) plus two planted sources that light
# up the other agreement patterns: a balance-drifted legacy feed (name
# agrees, bal doesn't) and a verbatim backup (everything agrees)
_FS_RECORDS_SQL = _ER_RECORDS_SQL + """
      UNION ALL
      SELECT c_custkey * 2 + 160000 AS rid, c_name AS name,
             ROUND(c_acctbal + 50.0, 2) AS bal, 'legacy' AS src
      FROM customer WHERE c_custkey < 800 AND c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey * 2 + 320000 AS rid, c_name AS name,
             ROUND(c_acctbal, 2) AS bal, 'backup' AS src
      FROM customer WHERE c_custkey < 800 AND c_custkey % 11 = 0
"""


@query(
    "fellegi_sunter_link_weights",
    oracle=f"""
    -- Fellegi-Sunter probabilistic record linkage (JASA 1969): the
    -- scoring theory under entity_resolution_e2e's edit-distance rule.
    -- u-probabilities (chance agreement among NON-matches) come from the
    -- frequency method — P(two random records agree) = sum n_v(n_v-1)
    -- / N(N-1), exact integers; m-probabilities are stated priors
    -- ({_FS_M['name']}/{_FS_M['bal']}/{_FS_M['fmt']}); each blocked
    -- candidate pair scores sum of ln(m/u) (agree) / ln((1-m)/(1-u))
    -- (disagree) over the three fields — a FIXED 3-term expression, no
    -- float aggregation. Output: one row per agreement pattern.
    WITH records AS ({{records}}),
    r AS (
      SELECT rid, name, bal, substr(name, 10) AS blk,
             substr(name, 1, 9) AS fmt
      FROM records
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM r),
    u_name AS (
      SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS agree
      FROM (SELECT COUNT(*) AS c FROM r GROUP BY name)
    ),
    u_bal AS (
      SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS agree
      FROM (SELECT COUNT(*) AS c FROM r GROUP BY bal)
    ),
    u_fmt AS (
      SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS agree
      FROM (SELECT COUNT(*) AS c FROM r GROUP BY fmt)
    ),
    u AS (
      SELECT u_name.agree * 1.0 / (n.nn * (n.nn - 1)) AS u_name,
             u_bal.agree * 1.0 / (n.nn * (n.nn - 1)) AS u_bal,
             u_fmt.agree * 1.0 / (n.nn * (n.nn - 1)) AS u_fmt
      FROM u_name CROSS JOIN u_bal CROSS JOIN u_fmt CROSS JOIN n
    ),
    pairs AS (
      SELECT CASE WHEN a.name = b.name THEN 1 ELSE 0 END AS g_name,
             CASE WHEN a.bal = b.bal THEN 1 ELSE 0 END AS g_bal,
             CASE WHEN a.fmt = b.fmt THEN 1 ELSE 0 END AS g_fmt
      FROM r a JOIN r b ON a.blk = b.blk AND a.rid < b.rid
    ),
    scored AS (
      SELECT g_name, g_bal, g_fmt,
             ROUND(
               (CASE WHEN g_name = 1 THEN ln({_FS_M['name']} / u.u_name)
                     ELSE ln({1 - _FS_M['name']} / (1.0 - u.u_name)) END)
             + (CASE WHEN g_bal = 1 THEN ln({_FS_M['bal']} / u.u_bal)
                     ELSE ln({1 - _FS_M['bal']} / (1.0 - u.u_bal)) END)
             + (CASE WHEN g_fmt = 1 THEN ln({_FS_M['fmt']} / u.u_fmt)
                     ELSE ln({1 - _FS_M['fmt']} / (1.0 - u.u_fmt)) END), 6)
               AS w
      FROM pairs CROSS JOIN u
    )
    SELECT CAST(g_name AS BIGINT) AS g_name, CAST(g_bal AS BIGINT) AS g_bal,
           CAST(g_fmt AS BIGINT) AS g_fmt,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           w AS match_weight,
           w > 0 AS is_match
    FROM scored
    GROUP BY g_name, g_bal, g_fmt, w
    ORDER BY g_name, g_bal, g_fmt
    """.format(records=_FS_RECORDS_SQL),
)
def fellegi_sunter_link_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter match weights for the two-source customer linkage:
    the probabilistic scoring that turns entity_resolution_e2e's hard
    edit-distance rule into calibrated evidence. u-probabilities are
    frequency-estimated from the record set itself (exact integer
    agreement counts over each field's value histogram — the scalable
    estimate: one grouped pass per field, never a pair scan);
    m-probabilities are stated priors; every blocked candidate pair sums
    three ln-likelihood-ratio terms in a fixed order (no float
    aggregation anywhere). Rows group by agreement pattern, so the output
    is the linkage DECISION TABLE the method is famous for."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("er_customer")
    recs = spark.sql(
        "SELECT * FROM (" + _FS_RECORDS_SQL.replace("customer", "er_customer") + ")"
    )
    r = recs.select(
        "rid",
        "name",
        "bal",
        F.substring("name", 10, 100).alias("blk"),
        F.substring("name", 1, 9).alias("fmt"),
    ).persist()
    n = r.agg(F.count(F.lit(1)).cast("long").alias("nn"))

    def u_of(col: str):
        return (
            r.groupBy(col)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("agree"))
        )

    u = (
        u_of("name").withColumnRenamed("agree", "a_name")
        .crossJoin(u_of("bal").withColumnRenamed("agree", "a_bal"))
        .crossJoin(u_of("fmt").withColumnRenamed("agree", "a_fmt"))
        .crossJoin(n)
        .select(
            (F.col("a_name") * 1.0 / (F.col("nn") * (F.col("nn") - 1))).alias("u_name"),
            (F.col("a_bal") * 1.0 / (F.col("nn") * (F.col("nn") - 1))).alias("u_bal"),
            (F.col("a_fmt") * 1.0 / (F.col("nn") * (F.col("nn") - 1))).alias("u_fmt"),
        )
    )
    a, b = r.alias("a"), r.alias("b")
    pairs = a.join(
        b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.rid") < F.col("b.rid"))
    ).select(
        (F.col("a.name") == F.col("b.name")).cast("int").alias("g_name"),
        (F.col("a.bal") == F.col("b.bal")).cast("int").alias("g_bal"),
        (F.col("a.fmt") == F.col("b.fmt")).cast("int").alias("g_fmt"),
    )

    def term(g: str, m: float, u_col: str):
        return F.when(
            F.col(g) == 1, F.log(F.lit(m) / F.col(u_col))
        ).otherwise(F.log(F.lit(1 - m) / (F.lit(1.0) - F.col(u_col))))

    scored = pairs.crossJoin(F.broadcast(u)).select(
        "g_name",
        "g_bal",
        "g_fmt",
        F.round(
            term("g_name", _FS_M["name"], "u_name")
            + term("g_bal", _FS_M["bal"], "u_bal")
            + term("g_fmt", _FS_M["fmt"], "u_fmt"),
            6,
        ).alias("w"),
    )
    return (
        scored.groupBy("g_name", "g_bal", "g_fmt", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .select(
            F.col("g_name").cast("long").alias("g_name"),
            F.col("g_bal").cast("long").alias("g_bal"),
            F.col("g_fmt").cast("long").alias("g_fmt"),
            "n_pairs",
            F.col("w").alias("match_weight"),
            (F.col("w") > 0).alias("is_match"),
        )
        .orderBy("g_name", "g_bal", "g_fmt")
    )


@query(
    "sink_python_datasource_write",
    oracle="""
    -- batch twin of the custom Python WRITER: the (event_type, day) count
    -- table written out through the bfcms_jsondir sink and read back must
    -- re-aggregate to the per-type totals computed directly.
    SELECT event_type, CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT)
             AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def sink_python_datasource_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE half of the Spark 4 Python DataSource contract: the per-
    (type, day) count table fans out through the custom ``bfcms_jsondir``
    sink (executor-parallel JSON-lines files, write-then-rename with
    two-phase commit messages and a _SUCCESS marker), is read BACK from
    the committed files, and must re-aggregate to the directly-computed
    per-type totals — proving bytes actually went through the connector,
    not just the plan. Completes B2's custom-connector story
    (read + streaming read + write)."""
    import os
    import tempfile

    from bloom_filters_count_min_sketch_spark_streaming_spark.sources.pysource import (
        JsonDirSinkDataSource,
    )

    spark.dataSource.register(JsonDirSinkDataSource)
    ev = load(spark, sf_dir, "events")
    per_day = (
        ev.groupBy(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .repartition(4)
    )
    from bloom_filters_count_min_sketch_spark_streaming_spark.session import (
        tmp_snapshot_dir as _snapdir,
    )

    out = _snapdir("bfcms_pysink_")
    per_day.write.format("bfcms_jsondir").mode("append").option(
        "path", out
    ).save()
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    back = spark.read.schema("event_type STRING, day STRING, c BIGINT").json(
        os.path.join(out, "part-*.json")
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count_distinct("day").cast("long").alias("n_days"),
            F.sum("c").cast("long").alias("n_events"),
        )
        .orderBy("event_type")
    )


@query(
    "padding_efficiency_audit",
    oracle="""
    -- length-grouped batching audit: pack documents into training batches
    -- of 32 and pad every sequence to its batch max. Strategy 'arrival'
    -- batches in doc_id order, 'length_sorted' after sorting by (length,
    -- doc_id) — the length-grouped batching every trainer dataloader
    -- offers. Padded tokens = n_in_batch * batch_max; waste is the padding
    -- share. All exact integers; the two-row delta is the measured win.
    WITH d AS (
      SELECT doc_id,
             len(list_filter(string_split(lower(text), ' '), w -> w <> ''))
               AS l
      FROM documents
    ),
    arrival AS (
      SELECT l, (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // 32 AS b FROM d
    ),
    srt AS (
      SELECT l, (ROW_NUMBER() OVER (ORDER BY l, doc_id) - 1) // 32 AS b FROM d
    ),
    pa AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_in_batch,
             CAST(SUM(l) AS BIGINT) AS tok, CAST(MAX(l) AS BIGINT) AS mx
      FROM arrival GROUP BY b
    ),
    ps AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_in_batch,
             CAST(SUM(l) AS BIGINT) AS tok, CAST(MAX(l) AS BIGINT) AS mx
      FROM srt GROUP BY b
    ),
    u AS (
      SELECT 'arrival' AS strategy, CAST(COUNT(*) AS BIGINT) AS n_batches,
             CAST(SUM(tok) AS BIGINT) AS real_tokens,
             CAST(SUM(n_in_batch * mx) AS BIGINT) AS padded_tokens
      FROM pa
      UNION ALL
      SELECT 'length_sorted', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(tok) AS BIGINT), CAST(SUM(n_in_batch * mx) AS BIGINT)
      FROM ps
    )
    SELECT strategy, n_batches, real_tokens, padded_tokens,
           ROUND(1.0 - real_tokens * 1.0 / padded_tokens, 6) AS pad_waste_frac
    FROM u ORDER BY strategy
    """,
)
def padding_efficiency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-grouped batching audit — the dataloader decision every
    trainer makes: batches of 32 padded to their batch max, arrival order
    vs length-sorted order, and the padding-waste fraction each pays.
    The two-row delta is the measured GPU-hours win of length bucketing
    (the sibling of corpus_pack_sequences' concat-packing, for models
    that can't cross document boundaries).

    Scale shape: length is map-only; each strategy is one shuffle (the
    global row_number here stands in for what a production dataloader
    does per shard — at 100 TB the sort runs range-partitioned per epoch
    shard and the batch ids stay local; waste numbers are identical
    because both are sums over batches). Exact integers end to end."""
    docs = load(spark, sf_dir, "documents")
    from bloom_filters_count_min_sketch_spark_streaming_spark.functions import (
        text as T,
    )

    d = docs.select(
        "doc_id", F.size(T.word_tokens(F.col("text"))).cast("long").alias("l")
    )

    def waste(df: DataFrame, order_cols, name: str) -> DataFrame:
        w = Window.orderBy(*order_cols)
        batches = df.select(
            "l",
            ((F.row_number().over(w) - 1) / 32).cast("long").alias("b"),
        )
        per = batches.groupBy("b").agg(
            F.count(F.lit(1)).cast("long").alias("n_in_batch"),
            F.sum("l").cast("long").alias("tok"),
            F.max("l").cast("long").alias("mx"),
        )
        return per.agg(
            F.lit(name).alias("strategy"),
            F.count(F.lit(1)).cast("long").alias("n_batches"),
            F.sum("tok").cast("long").alias("real_tokens"),
            F.sum(F.col("n_in_batch") * F.col("mx")).cast("long").alias(
                "padded_tokens"
            ),
        )

    u = waste(d, ["doc_id"], "arrival").unionAll(
        waste(d, ["l", "doc_id"], "length_sorted")
    )
    return u.select(
        "strategy",
        "n_batches",
        "real_tokens",
        "padded_tokens",
        F.round(
            F.lit(1.0) - F.col("real_tokens") * F.lit(1.0) / F.col("padded_tokens"),
            6,
        ).alias("pad_waste_frac"),
    ).orderBy("strategy")


@query(
    "er_sorted_neighborhood_metrics",
    oracle="""
    -- Sorted-Neighborhood blocking (Hernandez-Stolfo): sort by the
    -- blocking key (lang, n_chars, doc_id), take every pair within a
    -- window of 5, and audit the classic blocking trade-off AGAINST THE
    -- EXACT TRUTH (3-gram Jaccard >= 0.8 pairs): reduction ratio (how
    -- much of the n^2 pair space the window avoids) vs pair completeness
    -- (how many true near-dup pairs the window still catches). All exact
    -- integers and exact-int ratios.
    WITH arr AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY lang, n_chars, doc_id) AS rn
      FROM documents
    ),
    cand AS (
      SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
             GREATEST(a.doc_id, b.doc_id) AS doc_b
      FROM arr a JOIN arr b ON b.rn BETWEEN a.rn + 1 AND a.rn + 5
    ),
    toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ), sh AS (
      SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                             for i in range(1, len(ws)-1)]) AS s
      FROM toks WHERE len(ws) >= 3
    ), sets AS (SELECT DISTINCT doc_id, s FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sets GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM sets a JOIN sets b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT doc_a, doc_b
      FROM pairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
    ),
    m AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM truth t JOIN cand c
                ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS n_found
    )
    SELECT n_docs, n_candidates, n_truth, n_found,
           ROUND(1.0 - n_candidates * 2.0 / (n_docs * (n_docs - 1)), 6)
             AS reduction_ratio,
           ROUND(n_found * 1.0 / n_truth, 6) AS pair_completeness
    FROM m
    """,
)
def er_sorted_neighborhood_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-Neighborhood blocking audit (Hernandez-Stolfo 1995) — the
    third blocking strategy in the entity-resolution family (beside LSH
    banding and Fellegi-Sunter's exact keys): sort once by a cheap
    blocking key, compare only within a sliding window, and report the
    canonical trade-off pair — reduction ratio (pair-space saved) vs pair
    completeness (true matches retained) — against the exact 3-gram
    Jaccard >= 0.8 truth.

    Scale shape: one global sort (range-partitioned at scale, with a
    w-row partition-boundary overlap — the standard distributed SNM) and
    a self-join bounded by window x n rows instead of n^2; the truth side
    reuses the inverted-index Jaccard join. Everything integer-exact."""
    docs = load(spark, sf_dir, "documents")
    arr = docs.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy("lang", "n_chars", "doc_id"))
        .alias("rn"),
    )
    a = arr.select(F.col("doc_id").alias("id_a"), F.col("rn").alias("rn_a"))
    b = arr.select(F.col("doc_id").alias("id_b"), F.col("rn").alias("rn_b"))
    cand = (
        a.join(
            b,
            (F.col("rn_b") > F.col("rn_a"))
            & (F.col("rn_b") <= F.col("rn_a") + 5),
        )
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
        )
        .persist()
    )
    from bloom_filters_count_min_sketch_spark_streaming_spark.operators import dedup

    truth = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8).select(
        "doc_a", "doc_b"
    ).persist()
    n_docs = docs.count()
    n_candidates = cand.count()
    n_truth = truth.count()
    n_found = truth.join(cand, ["doc_a", "doc_b"]).count()
    from decimal import ROUND_HALF_UP, Decimal

    def r6(v: float) -> float:
        # DuckDB ROUND is half-away-from-zero; Python round() is half-even
        return float(Decimal(repr(v)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))

    rr = 1.0 - n_candidates * 2.0 / (n_docs * (n_docs - 1))
    pc = n_found * 1.0 / n_truth if n_truth else float("nan")
    return spark.createDataFrame(
        [
            (
                n_docs,
                n_candidates,
                n_truth,
                n_found,
                r6(rr),
                r6(pc),
            )
        ],
        "n_docs bigint, n_candidates bigint, n_truth bigint, n_found bigint, "
        "reduction_ratio double, pair_completeness double",
    )


@query(
    "shapley_source_vocab_value",
    oracle="""
    -- EXACT SHAPLEY DATA VALUATION of 5 source groups by vocabulary
    -- coverage: v(S) = |vocab covered by the union of groups in S| — a
    -- submodular coalition value where naive per-source attribution
    -- double-counts shared vocabulary. With 5 players the full Shapley
    -- sum is exact: per-term group BITMASKS -> 32 mask counts -> v over
    -- all 32 coalitions -> phi_i = sum_S |S|!(4-|S|)!/5! * marginal,
    -- scaled by 120 so every intermediate is an exact BIGINT. Efficiency
    -- (sum phi_i = v(full)) is pinned in tests/test_eval_formulas.py.
    WITH toks AS (
      SELECT CAST(substr(source, 4) AS INTEGER) % 5 AS gid,
             unnest(list_filter(string_split(lower(text), ' '), w -> w <> ''))
               AS term
      FROM documents
    ),
    tm AS (
      SELECT term, CAST(bit_or(1 << gid) AS BIGINT) AS mask
      FROM toks GROUP BY term
    ),
    mc AS (SELECT mask, CAST(COUNT(*) AS BIGINT) AS c FROM tm GROUP BY mask),
    coal AS (SELECT unnest(range(32)) AS s),
    v AS (
      SELECT coal.s,
             CAST(COALESCE(SUM(CASE WHEN (mc.mask & coal.s) <> 0
                                    THEN mc.c ELSE 0 END), 0) AS BIGINT) AS v
      FROM coal LEFT JOIN mc ON TRUE GROUP BY coal.s
    ),
    players AS (SELECT unnest(range(5)) AS i),
    marg AS (
      SELECT p.i,
             ((vs.s) & 1) + ((vs.s >> 1) & 1) + ((vs.s >> 2) & 1)
               + ((vs.s >> 3) & 1) + ((vs.s >> 4) & 1) AS k,
             vfull.v - vs.v AS gain
      FROM players p
      JOIN v vs ON (vs.s & (1 << p.i)) = 0
      JOIN v vfull ON vfull.s = vs.s + (1 << p.i)
    ),
    phi AS (
      SELECT i,
             CAST(SUM(CASE k WHEN 0 THEN 24 WHEN 1 THEN 6 WHEN 2 THEN 4
                             WHEN 3 THEN 6 WHEN 4 THEN 24 END * gain)
               AS BIGINT) AS phi_x120
      FROM marg GROUP BY i
    ),
    tot AS (SELECT v AS v_full FROM v WHERE s = 31)
    SELECT phi.i AS source_group, phi.phi_x120,
           ROUND(phi.phi_x120 / 120.0, 4) AS shapley_terms,
           ROUND(phi.phi_x120 * 1.0 / (120.0 * tot.v_full), 6) AS coverage_share,
           tot.v_full AS vocab_total
    FROM phi CROSS JOIN tot
    ORDER BY source_group
    """,
)
def shapley_source_vocab_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley data valuation of source groups by vocabulary
    coverage (the data-markets question "which source actually buys us
    new content?"): coalition value v(S) = distinct vocabulary covered by
    the union — submodular, so leave-one-out and naive per-source counts
    both mis-attribute shared vocabulary; the Shapley value is the unique
    efficient/symmetric split. Five groups keep the 2^5 coalition lattice
    exact — phi scaled by 5! = 120 stays integer end to end.

    Scale shape: ONE wordcount-shaped pass builds per-term group bitmasks
    (bit_or aggregate); everything after runs on the 32-row mask-count
    table (the coalition lattice is data-independent) — the classic
    "reduce to a sufficient statistic, then do the exponential part on
    kilobytes" discipline, same as the HHH lattice."""
    docs = load(spark, sf_dir, "documents")
    from bloom_filters_count_min_sketch_spark_streaming_spark.functions import (
        text as T,
    )

    gid = (F.substring("source", 4, 8).cast("int") % 5).alias("gid")
    toks = docs.select(
        gid, F.explode(T.word_tokens(F.col("text"))).alias("term")
    )
    tm = toks.groupBy("term").agg(
        F.bit_or(F.expr("shiftleft(1L, gid)")).cast("long").alias("mask")
    )
    mc = tm.groupBy("mask").agg(F.count(F.lit(1)).cast("long").alias("c"))
    spark_ = docs.sparkSession
    coal = spark_.range(32).select(F.col("id").cast("long").alias("s"))
    v = (
        coal.crossJoin(F.broadcast(mc))
        .groupBy("s")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("mask").bitwiseAND(F.col("s")) != 0, F.col("c")
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("v")
        )
    ).persist()
    players = spark_.range(5).select(F.col("id").cast("int").alias("i"))
    vs = v.select(F.col("s").alias("s0"), F.col("v").alias("v0"))
    vf = v.select(F.col("s").alias("s1"), F.col("v").alias("v1"))
    k = sum(
        F.shiftright(F.col("s0"), b).bitwiseAND(F.lit(1)) for b in range(5)
    )
    weight = (
        F.when(k == 0, 24)
        .when(k == 1, 6)
        .when(k == 2, 4)
        .when(k == 3, 6)
        .otherwise(24)
    )
    marg = (
        players.crossJoin(vs)
        .filter(F.col("s0").bitwiseAND(F.expr("shiftleft(1L, i)")) == 0)
        .join(
            vf,
            F.col("s1")
            == F.col("s0") + F.expr("shiftleft(1L, i)").cast("long"),
        )
        .select("i", (weight * (F.col("v1") - F.col("v0"))).alias("wg"))
    )
    phi = marg.groupBy("i").agg(F.sum("wg").cast("long").alias("phi_x120"))
    tot = v.filter(F.col("s") == 31).select(F.col("v").alias("v_full"))
    return (
        phi.crossJoin(F.broadcast(tot))
        .select(
            F.col("i").alias("source_group"),
            "phi_x120",
            F.round(F.col("phi_x120") / 120.0, 4).alias("shapley_terms"),
            F.round(
                F.col("phi_x120") * F.lit(1.0) / (120.0 * F.col("v_full")), 6
            ).alias("coverage_share"),
            F.col("v_full").alias("vocab_total"),
        )
        .orderBy("source_group")
    )


# ---------------------------------------------------------------------------
# LLM corpus RELEASE (round-8 composition flagship, VERDICT r7 item 9):
# contamination gate -> dedup cascade (exact -> n-gram Jaccard -> SemDeDup)
# -> quality gates -> temperature mixture -> packing, as ONE audited plan
# whose output is the per-stage funnel (docs + tokens surviving each stage).

_RELEASE_SEQ_LEN = 512


# Shared by llm_corpus_release_e2e AND its streaming twin
# (plans/streaming_queries.py:stream_corpus_release_funnel): the two must
# produce the SAME funnel, so they share one oracle.
RELEASE_FUNNEL_ORACLE = f"""
    -- The full release cascade. Every stage CTE is referenced twice (next
    -- stage + its funnel row) -> AS MATERIALIZED, or DuckDB's CTE inlining
    -- re-evaluates the cascade exponentially (r6 lesson).
    -- Mixture stage uses alpha=0.5 temperature: keep rate sqrt(min_cnt /
    -- cnt_lang) — sqrt and exact-int division are correctly rounded IEEE
    -- ops, so the rate bits match Spark exactly (no libm pow in a filter).
    WITH tok AS MATERIALIZED (
      SELECT doc_id, lang, source, text,
             len(list_filter(string_split(lower(text), ' '), w -> w <> ''))
               AS n_tok
      FROM documents
    ),
    eval8 AS MATERIALIZED (
      SELECT DISTINCT s FROM (
        SELECT unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
                       ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' ||
                       ws[i+6] || ' ' || ws[i+7]
                       for i in range(1, len(ws) - 6)]) AS s
        FROM (SELECT list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
              FROM documents WHERE doc_id % 97 = 0)
      )
    ),
    corp AS MATERIALIZED (SELECT * FROM tok WHERE doc_id % 97 <> 0),
    contaminated AS MATERIALIZED (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id,
               unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
                       ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' ||
                       ws[i+6] || ' ' || ws[i+7]
                       for i in range(1, len(ws) - 6)]) AS s
        FROM (SELECT doc_id,
                     list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
              FROM corp)
      ) g JOIN eval8 USING (s)
    ),
    s1 AS MATERIALIZED (
      SELECT c.* FROM corp c LEFT JOIN contaminated x USING (doc_id)
      WHERE x.doc_id IS NULL
    ),
    keep2 AS (SELECT MIN(doc_id) AS doc_id FROM s1 GROUP BY md5(lower(text))),
    s2 AS MATERIALIZED (SELECT s1.* FROM s1 JOIN keep2 USING (doc_id)),
    sets AS MATERIALIZED (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                               for i in range(1, len(ws) - 1)]) AS s
        FROM (SELECT doc_id,
                     list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
              FROM s2) WHERE len(ws) >= 3
      )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sets GROUP BY doc_id),
    jdrop AS MATERIALIZED (
      SELECT DISTINCT doc_b AS doc_id FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
        FROM sets a JOIN sets b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ) p JOIN sizes sa ON sa.doc_id = p.doc_a
           JOIN sizes sb ON sb.doc_id = p.doc_b
      WHERE p.c * 1.0 / (sa.n + sb.n - p.c) >= 0.8
    ),
    s3 AS MATERIALIZED (
      SELECT s2.* FROM s2 LEFT JOIN jdrop USING (doc_id)
      WHERE jdrop.doc_id IS NULL
    ),
    semdrop AS MATERIALIZED (
      SELECT DISTINCT b.vec_id AS doc_id
      FROM embeddings a
      JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
      JOIN s3 xa ON xa.doc_id = a.vec_id
      JOIN s3 xb ON xb.doc_id = b.vec_id
      WHERE ROUND(list_sum(list_transform(
                    list_zip(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),
                    t -> t[1] * t[2]))
              / (sqrt(list_sum(list_transform(a.embedding::DOUBLE[], x -> x * x)))
                 * sqrt(list_sum(list_transform(b.embedding::DOUBLE[], x -> x * x)))),
              6) >= 0.45
    ),
    s4 AS MATERIALIZED (
      SELECT s3.* FROM s3 LEFT JOIN semdrop USING (doc_id)
      WHERE semdrop.doc_id IS NULL
    ),
    s5 AS MATERIALIZED (
      SELECT * FROM s4
      WHERE len(list_filter(string_split(lower(text), ' '), w -> w IN {{stops}}))
              * 1.0 / len(list_filter(string_split(lower(text), ' '), w -> w <> '')) >= 0.05
        AND length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
              * 1.0 / length(text) <= 0.2
    ),
    cnts AS (SELECT lang, COUNT(*) AS cnt FROM s5 GROUP BY lang),
    mrate AS (
      SELECT lang, sqrt((SELECT MIN(cnt) FROM cnts) * 1.0 / cnt) AS rate
      FROM cnts
    ),
    s6 AS MATERIALIZED (
      SELECT s5.* FROM s5 JOIN mrate USING (lang)
      WHERE (('0x' || substr(md5('mx:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
             % 10000) / 10000.0 < rate
    )
    SELECT * FROM (
      SELECT 0 AS stage, 'raw' AS stage_name,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) AS n_tokens FROM tok
      UNION ALL
      SELECT 1, 'decontaminated', CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s1
      UNION ALL
      SELECT 2, 'exact_dedup', CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s2
      UNION ALL
      SELECT 3, 'jaccard_dedup', CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s3
      UNION ALL
      SELECT 4, 'semdedup', CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s4
      UNION ALL
      SELECT 5, 'quality_gate', CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s5
      UNION ALL
      SELECT 6, 'temp_mixture', CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s6
      UNION ALL
      SELECT 7, 'packed_seqs_{_RELEASE_SEQ_LEN}',
             CAST(CEIL(COALESCE(SUM(n_tok), 0) / {_RELEASE_SEQ_LEN}.0) AS BIGINT),
             CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s6
    ) ORDER BY stage
    """.replace("{stops}", _STOPS_SQL)


@query("llm_corpus_release_e2e", oracle=RELEASE_FUNNEL_ORACLE)
def llm_corpus_release_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end LLM corpus RELEASE as one audited cascade — the
    composition flagship the r7 verdict asked for: benchmark-contamination
    gate (shared full 8-gram vs the held-out eval slice), exact dedup
    (content-hash min-id), near-dup dedup (3-gram set Jaccard >= 0.8,
    inverted-index join with the hot-shingle df cap), SemDeDup (cosine >=
    0.45 within coarse clusters), Gopher-style quality gates, alpha=0.5
    temperature mixture thinning, and concat-then-chop packing at 512
    tokens. Output is the per-stage funnel (docs + tokens after each
    stage) — the audit table a data-release review actually reads.

    Every stage is also a standalone query (contamination_bloom_gate,
    dedup_exact_docs, dedup_ngram_jaccard_pairs, semdedup_embeddings,
    text_quality_by_source, temperature_resample_rates,
    corpus_pack_sequences). Each stage materializes ONCE into a tmp
    parquet snapshot (an observe() audit node executes with the write, so
    the stage plan carries a CollectMetrics checkpoint), and the next
    stage plans against the SNAPSHOT — this is deliberate lineage
    truncation, not just caching: with chained persist() every action on
    stage N re-ran Catalyst analysis over the whole accumulated cascade
    tree (jaccard self-joins + semdedup pair joins referenced 2-3x per
    level), and the driver-side optimizer cost grew to ~18 s for the
    2-scalar mixture agg alone (r9 profile; query total 45-63 s, vs ~24 s
    snapshot-based). At 100 TB the snapshots are the stage tables a table
    format would hold between pipeline runs — the same at-rest
    architecture the streaming twin uses per micro-batch.

    Scale notes: the contamination join broadcasts the EVAL 8-gram set
    (benchmark-sized at any corpus scale); Jaccard candidates flow through
    the capped inverted index (no |docs|^2); SemDeDup's quadratic term is
    bounded per cluster; the mixture rate is sqrt(min/cnt) — IEEE-exact in
    both engines, no libm pow inside a filter predicate."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from bloom_filters_count_min_sketch_spark_streaming_spark.functions import text as T
    from bloom_filters_count_min_sketch_spark_streaming_spark.operators import (
        dedup,
        similarity,
    )

    from bloom_filters_count_min_sketch_spark_streaming_spark.session import (
        tmp_snapshot_dir as _snapdir,
    )

    root = _snapdir("bfcms_release_batch_")
    funnel_rows: list[tuple[int, str, int, int]] = []

    import os as _osenv
    import time as _time

    _profile = bool(_osenv.environ.get("BFCMS_FUNNEL_PROFILE"))
    _tprof = _time.time()

    def snap(df: DataFrame, stage: int, name: str) -> DataFrame:
        """Materialize a stage once and re-plan downstream against the
        snapshot. BOTH funnel scalars ride the write as an Observation
        (CollectMetrics executes with the write job) — the earlier
        string-named observe carried only the doc count, so every stage
        paid a second agg job re-reading its own snapshot for the token
        sum; 7 stages x 1 job now saved."""
        nonlocal _tprof
        from pyspark.sql import Observation

        obs = Observation(f"release_{name}")
        p = _os.path.join(root, name)
        df.observe(
            obs,
            F.count(F.lit(1)).cast("long").alias("d"),
            F.coalesce(F.sum("n_tok"), F.lit(0)).cast("long").alias("t"),
        ).write.mode("overwrite").parquet(p)
        r = obs.get
        if _profile:
            with open("/tmp/funnel_prof.txt", "a") as _fh:
                _fh.write(f"batch_twin {name}: {_time.time() - _tprof:.2f}s\n")
            _tprof = _time.time()
        funnel_rows.append((stage, name, int(r["d"]), int(r["t"])))
        return spark.read.parquet(p)

    try:
        docs = load(spark, sf_dir, "documents")
        # repartition first: every stage below does per-row CPU work
        # (shingle, md5, ratio scans) and the fixture is one row group ->
        # one partition
        tok = snap(
            docs.repartition(spark.sparkContext.defaultParallelism).select(
                "doc_id",
                "lang",
                "source",
                "text",
                F.size(dedup.tokens_col(F.col("text"))).cast("long").alias("n_tok"),
            ),
            0,
            "raw",
        )

        # S1 contamination gate: drop corpus docs sharing any full 8-gram
        # with the held-out eval slice (doc_id % 97 == 0 — excluded from
        # the release entirely, like any benchmark).
        evald = tok.filter(F.col("doc_id") % 97 == 0)
        corp = tok.filter(F.col("doc_id") % 97 != 0)
        eval8 = evald.select(
            F.explode(dedup.shingles_col(F.col("text"), 8)).alias("s")
        ).distinct()
        contaminated = (
            corp.select(
                "doc_id", F.explode(dedup.shingles_col(F.col("text"), 8)).alias("s")
            )
            .join(F.broadcast(eval8), "s")
            .select("doc_id")
            .distinct()
        )
        # S1+S2 share one write: S1's snapshot fed only S2, and S2's
        # min-per-hash groupBy+self-join referenced the S1 subtree twice;
        # a row_number window over the content hash keeps the identical
        # winner (doc_id unique, min == rn 1) in a LINEAR chain, so S1's
        # tally rides S2's write as a second Observation (same fusion as
        # the streaming twin's s1_s2 stage).
        from pyspark.sql import Observation as _Obs

        obs1 = _Obs("release_decontaminated")
        s1_chain = corp.join(contaminated, "doc_id", "left_anti").observe(
            obs1,
            F.count(F.lit(1)).cast("long").alias("d"),
            F.coalesce(F.sum("n_tok"), F.lit(0)).cast("long").alias("t"),
        )
        w2 = Window.partitionBy(F.md5(F.lower("text"))).orderBy("doc_id")
        s2 = snap(
            s1_chain.withColumn("_rn", F.row_number().over(w2))
            .filter(F.col("_rn") == 1)
            .drop("_rn"),
            2,
            "exact_dedup",
        )
        r1 = obs1.get
        funnel_rows.append((1, "decontaminated", int(r1["d"]), int(r1["t"])))

        # S3 near-dup: pairwise 3-gram set Jaccard >= 0.8 (capped inverted
        # index), drop the larger id of each qualifying pair. The
        # operator's internal shingle-set cache is unpersisted as soon as
        # the stage snapshot lands.
        nested_caches: list = []
        pairs = dedup.ngram_jaccard_pairs(
            s2.select("doc_id", "text"), threshold=0.8, persisted_out=nested_caches,
            snapshot=True,
        )
        drop3 = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
        s3 = snap(s2.join(drop3, "doc_id", "left_anti"), 3, "jaccard_dedup")
        for c in nested_caches:
            c.unpersist()

        # S4 SemDeDup on the survivors' embeddings (cluster = label; docs
        # without an embedding row pass through).
        emb = load(spark, sf_dir, "embeddings")
        emb_s = emb.join(s3.select(F.col("doc_id").alias("vec_id")), "vec_id")
        sem = similarity.semdedup(emb_s, cluster_col="label", threshold=0.45)
        drop4 = sem.filter(~F.col("kept")).select(F.col("vec_id").alias("doc_id"))
        s4 = snap(s3.join(drop4, "doc_id", "left_anti"), 4, "semdedup")

        # S5 quality gates (same predicates as corpus_curation_e2e).
        s5 = snap(
            s4.filter(
                (T.stopword_ratio(F.col("text")) >= 0.05)
                & (T.punct_ratio(F.col("text")) <= 0.2)
            ),
            5,
            "quality_gate",
        )

        # S6 temperature mixture, alpha=0.5: keep rate sqrt(min_cnt /
        # cnt_lang) (sqrt + exact-int division are IEEE-correctly-rounded
        # -> the rate bits match DuckDB exactly; no pow in the predicate).
        cnts = s5.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
        mn = cnts.agg(F.min("cnt").alias("mn"))
        rates = F.broadcast(
            cnts.crossJoin(F.broadcast(mn)).select(
                "lang",
                F.sqrt(
                    F.col("mn").cast("double") / F.col("cnt").cast("double")
                ).alias("rate"),
            )
        )
        u = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("mx:"), F.col("doc_id").cast("string"))), 1, 4
                ),
                16,
                10,
            ).cast("long")
            % 10000
        ) / 10000.0
        snap(s5.join(rates, "lang").filter(u < F.col("rate")), 6, "temp_mixture")
    finally:
        _shutil.rmtree(root, ignore_errors=True)

    total = funnel_rows[-1][3]
    n_seqs = -(-total // _RELEASE_SEQ_LEN)  # ceil
    funnel_rows.append((7, f"packed_seqs_{_RELEASE_SEQ_LEN}", n_seqs, total))
    return spark.createDataFrame(
        funnel_rows, "stage int, stage_name string, n_docs bigint, n_tokens bigint"
    ).orderBy("stage")
