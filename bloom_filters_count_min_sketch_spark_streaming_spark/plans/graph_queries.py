"""Graph-analytics queries over relation-derived graphs.

Connected components (the dedup endgame) lives in dedup_queries /
pipeline_queries; this module adds PageRank — the canonical iterative
graph computation — over the nation-to-nation trade graph derived from
TPC-H (supplier nation -> customer nation, edge weight = shipped line
items). The Spark side is the Pregel-style shape (edges joined to the
current rank vector per superstep); the oracle unrolls the same fixed
number of iterations as chained CTEs.

Cross-engine determinism of an ITERATIVE float computation: every
iteration's rank vector must be bit-identical in both engines, or errors
compound. Achieved the same way the repo handles any float SUM — each
edge contribution rank*weight_fraction is ROUNDed (1e-12) before a
DECIMAL(38,12) sum, so addition order can't matter; everything else in
the recurrence (0.15/n, 0.85*m, exact int weight ratios) is a pure
elementwise double chain, identical IEEE in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bloom_filters_count_min_sketch_spark_streaming_spark.plans.registry import query
from bloom_filters_count_min_sketch_spark_streaming_spark.sources.io import load

PR_ITERS = 5
DAMPING = 0.85


def _pagerank_oracle(iters: int = PR_ITERS) -> str:
    sql = """
    WITH nodes AS (SELECT n_nationkey AS node FROM nation),
    e AS (
      SELECT sn.n_nationkey AS src, cn.n_nationkey AS dst, COUNT(*) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      GROUP BY 1, 2
    ),
    ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM e GROUP BY src),
    ew AS (SELECT e.src, e.dst, e.w * 1.0 / ow.ow AS f FROM e JOIN ow USING (src)),
    nn AS (SELECT COUNT(*) * 1.0 AS n FROM nodes),
    dang AS (SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM e)),
    pr0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn)"""
    for i in range(1, iters + 1):
        sql += f""",
    md{i} AS (
      SELECT COALESCE(CAST(SUM(CAST(ROUND(p.r, 12) AS DECIMAL(38,12))) AS DOUBLE),
                      0.0) AS md
      FROM pr{i - 1} p JOIN dang USING (node)
    ),
    pr{i} AS (
      SELECT nodes.node,
             0.15 / nn.n + 0.85 * (COALESCE(s.m, 0.0) + md{i}.md / nn.n) AS r
      FROM nodes CROSS JOIN nn CROSS JOIN md{i}
      LEFT JOIN (
        SELECT ew.dst AS node,
               CAST(SUM(CAST(ROUND(p.r * ew.f, 12) AS DECIMAL(38,12))) AS DOUBLE) AS m
        FROM pr{i - 1} p JOIN ew ON p.node = ew.src
        GROUP BY ew.dst
      ) s ON s.node = nodes.node
    )"""
    sql += f"""
    SELECT n.n_name AS nation, ROUND(p.r, 8) AS pagerank,
           CAST(row_number() OVER (ORDER BY ROUND(p.r, 8) DESC, n.n_name) AS BIGINT)
             AS rnk
    FROM pr{iters} p JOIN nation n ON n.n_nationkey = p.node
    ORDER BY rnk
    """
    return sql


@query("pagerank_nation_trade", oracle=_pagerank_oracle())
def pagerank_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (d=0.85, 5 supersteps) over the nation trade graph.

    Scale shape: the data-sized work — the 4-way join that aggregates
    line items into the weighted nation-to-nation edge table — runs
    distributed, once. The rank iteration runs on the driver over the
    collected edge list, which is DOMAIN-bounded (<= |nations|^2 rows at
    ANY data scale): the same dimension-bounded driver-peel discipline as
    the rest of the graph family (k-core/k-truss peels, 2x2 eigh). Until
    r13 the supersteps ran as Spark jobs with an eager localCheckpoint
    each (~40 jobs for a 25-node graph, half the query's wall time —
    OPTIMIZATION_r13.md); the peel replaces them with zero jobs while
    reproducing Catalyst's float semantics bit-for-bit via
    functions/exactfloat (ROUND half-up + exact decimal sums), so the
    hash-checked output is unchanged."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.functions.exactfloat import (
        dec_sum_double,
        round_half_up,
    )

    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")

    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .select(
            supp.s_nationkey.alias("src"),
            cust.c_nationkey.alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    ow = edges.groupBy("src").agg(F.sum("w").cast("long").alias("ow"))
    ew = edges.join(ow, "src").select(
        "src", "dst", (F.col("w") * 1.0 / F.col("ow")).alias("f")
    )
    # ONE distributed action: the bounded edge list (out-weight fractions
    # are computed engine-side, so their doubles are Catalyst's bits) and
    # the nation names.
    ew_rows = [(r["src"], r["dst"], r["f"]) for r in ew.collect()]
    names = {
        r["n_nationkey"]: r["n_name"]
        for r in nation.select("n_nationkey", "n_name").collect()
    }
    nodes = sorted(names)
    n = float(len(nodes))
    has_out = {s for s, _, _ in ew_rows}
    dang = [v for v in nodes if v not in has_out]

    r = {v: 1.0 / n for v in nodes}
    for _ in range(PR_ITERS):
        md = dec_sum_double((round_half_up(r[v], 12) for v in dang), 12)
        terms: dict[int, list[float]] = {}
        for s, d, f in ew_rows:
            terms.setdefault(d, []).append(round_half_up(r[s] * f, 12))
        m = {d: dec_sum_double(ts, 12) for d, ts in terms.items()}
        r = {
            v: 0.15 / n + DAMPING * (m.get(v, 0.0) + md / n) for v in nodes
        }

    ranked = sorted(
        ((names[v], round_half_up(r[v], 8)) for v in nodes),
        key=lambda t: (-t[1], t[0]),
    )
    rows = [(nm, pr, i + 1) for i, (nm, pr) in enumerate(ranked)]
    return spark.createDataFrame(
        rows, "nation string, pagerank double, rnk long"
    ).orderBy("rnk")


_TRI_ORACLE = """
    WITH d AS (
      SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey <> c.c_nationkey
    ),
    e AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v FROM d),
    t AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e1.v = e2.u
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    pn AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM (
        SELECT a AS node FROM t
        UNION ALL SELECT b FROM t
        UNION ALL SELECT c FROM t
      )
      GROUP BY node
    )
    SELECT n.n_name AS nation, pn.n_triangles
    FROM pn JOIN nation n ON n.n_nationkey = pn.node
    ORDER BY nation
    """


@query("triangle_count_trade", oracle=_TRI_ORACLE)
def triangle_count_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting over the undirected nation trade graph:
    per-node triangle participation (global count = sum/3).

    The canonical-orientation algorithm: every undirected edge is stored
    once as (u < v), and a triangle {a < b < c} is found exactly once by
    the two-hop equi-join e1(a,b) ⋈ e2(b,c) checked against e3(a,c) — three
    hash joins, no DISTINCT-on-triangles pass, no double counting. At
    100 TB scale the same shape holds with degree ordering instead of key
    ordering (orient each edge from the lower-degree endpoint) so the
    e1.v = e2.u fan-out is bounded by the arboricity, the standard
    skew-defense for triangle enumeration; key ordering is the degenerate
    instance of that orientation and keeps the fixture deterministic."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")

    d = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(supp.s_nationkey != cust.c_nationkey)
        .select(supp.s_nationkey.alias("src"), cust.c_nationkey.alias("dst"))
        .distinct()
    )
    e = (
        d.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
        .persist()
    )
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    e3 = e.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    t = (
        e1.join(e2, e1.b == e2.b2)
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    per_node = (
        t.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        per_node.join(F.broadcast(nation), per_node.node == nation.n_nationkey)
        .select(F.col("n_name").alias("nation"), "n_triangles")
        .orderBy("nation")
    )


_BFS_HOPS = 4


def _bfs_oracle(hops: int = _BFS_HOPS) -> str:
    """Unrolled BFS frontier expansion; all-integer math, exact."""
    sql = """
    WITH d AS (
      SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey <> c.c_nationkey
    ),
    e AS (
      SELECT src, dst FROM d
      UNION
      SELECT dst, src FROM d
    ),
    dist0 AS (SELECT 0 AS node, 0 AS dist)"""
    for i in range(1, hops + 1):
        sql += f""",
    dist{i} AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM dist{i - 1}
        UNION ALL
        SELECT e.dst AS node, p.dist + 1 AS dist
        FROM dist{i - 1} p JOIN e ON e.src = p.node
      ) GROUP BY node
    )"""
    sql += f"""
    SELECT n.n_name AS nation, CAST(d.dist AS BIGINT) AS hops
    FROM dist{hops} d JOIN nation n ON n.n_nationkey = d.node
    ORDER BY hops, nation
    """
    return sql


@query("bfs_shortest_hops", oracle=_bfs_oracle())
def bfs_shortest_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest hop counts (BFS) over the undirected nation
    trade graph — the third member of the graph family (PageRank /
    triangles / BFS). Pregel-style frontier expansion: each superstep
    joins the current distance vector to the edge list and takes the
    per-node MIN — all-integer math, so the iteration is exact in any
    engine and the oracle just unrolls it. Scale shape: |V|-row distance
    vector hash-joined to the edge table on the same key every superstep;
    localCheckpoint keeps lineage constant-depth (the k-means / PageRank
    discipline)."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")

    d = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(supp.s_nationkey != cust.c_nationkey)
        .select(supp.s_nationkey.alias("src"), cust.c_nationkey.alias("dst"))
        .distinct()
    )
    e = d.union(d.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct().persist()

    dist = spark.createDataFrame([(0, 0)], "node int, dist int")
    for _ in range(_BFS_HOPS):
        expanded = dist.join(e, dist.node == e.src).select(
            F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        dist = (
            dist.unionAll(expanded)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return (
        dist.join(F.broadcast(nation), dist.node == nation.n_nationkey)
        .select(F.col("n_name").alias("nation"), F.col("dist").cast("long").alias("hops"))
        .orderBy("hops", "nation")
    )


_KCORE_ROUNDS = 4
_KCORE_K = 4


def _kcore_oracle() -> str:
    sql = """
    WITH base AS MATERIALIZED (
      SELECT LEAST(sn, cn) AS a, GREATEST(sn, cn) AS b,
             CAST(SUM(w) AS BIGINT) AS w
      FROM (
        SELECT s.s_nationkey AS sn, c.c_nationkey AS cn, COUNT(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
      ) WHERE sn <> cn GROUP BY 1, 2
    ),
    t AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(w) AS BIGINT) AS tot FROM base),
    e AS MATERIALIZED (SELECT a, b FROM base CROSS JOIN t WHERE w * n * 5 >= 6 * tot),
    sym0 AS MATERIALIZED (SELECT a AS s, b AS d FROM e UNION ALL SELECT b, a FROM e)"""
    for r in range(1, _KCORE_ROUNDS + 1):
        sql += f""",
    a{r} AS MATERIALIZED (SELECT s AS v FROM sym{r - 1} GROUP BY s
             HAVING COUNT(*) >= {_KCORE_K}),
    sym{r} AS MATERIALIZED (SELECT sym0.s, sym0.d FROM sym0
               JOIN a{r} x ON sym0.s = x.v JOIN a{r} y ON sym0.d = y.v)"""
    last, prev = _KCORE_ROUNDS, _KCORE_ROUNDS - 1
    sql += f"""
    SELECT fv.v AS nation, CAST(fd.c AS BIGINT) AS core_degree,
           (SELECT COUNT(*) FROM a{prev}) = (SELECT COUNT(*) FROM a{last})
             AS converged
    FROM a{last} fv
    JOIN (SELECT s, COUNT(*) AS c FROM sym{last} GROUP BY s) fd
      ON fd.s = fv.v
    """
    return sql


@query("kcore_trade_graph", oracle=_kcore_oracle())
def kcore_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (bounded peel) of the heavy-trade nation graph
    — the graph-robustness member of the family (PageRank ranks, triangle
    count measures closure, components partition; the k-core finds the
    subgraph where EVERYONE keeps >= k strong partners after the weakly
    connected fringe unravels). Edges = nation pairs with weight >= 1.2x
    the mean (integer cross-multiplied comparison); peeling runs {rounds}
    bounded rounds with a `converged` flag comparing the last two
    (fixture graphs settle in 2-3). The O(|lineitem|) edge aggregation is
    distributed; the peel runs on the collected nations^2-bounded pair
    list (a dimension-table bound, same class as the IBLT residual peel —
    a DataFrame-per-round peel measured 6x slower purely on shuffle-stage
    scheduling for a sub-kilobyte graph). On a graph whose EDGE LIST
    itself is big (user-user), each round becomes one hash-agg + semi-join
    over surviving edges — the distributed form the oracle's unroll
    mirrors.""".format(
        rounds=_KCORE_ROUNDS
    )
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .select(
            F.col("s_nationkey").alias("sn"), F.col("c_nationkey").alias("cn")
        )
        .filter(F.col("sn") != F.col("cn"))
        .groupBy("sn", "cn")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    base = (
        pairs.select(
            F.least("sn", "cn").alias("a"),
            F.greatest("sn", "cn").alias("b"),
            "w",
        )
        .groupBy("a", "b")
        .agg(F.sum("w").cast("long").alias("w"))
    )
    # The peel itself runs driver-side over the COLLECTED weighted pair
    # list — bounded by nations^2 (<= 300 rows at every sf; a dimension-
    # table bound, like the IBLT residual peel), while the O(|lineitem|)
    # edge aggregation above stays distributed. A DataFrame-per-round peel
    # was measured 6x slower purely on shuffle-stage scheduling for a
    # sub-kilobyte graph.
    rows = base.collect()
    n = len(rows)
    tot = sum(r["w"] for r in rows)
    edges = [(r["a"], r["b"]) for r in rows if r["w"] * n * 5 >= 6 * tot]
    alive = {v for ab in edges for v in ab}
    counts = []
    for _ in range(_KCORE_ROUNDS):
        deg: dict[int, int] = {}
        for a, b in edges:
            if a in alive and b in alive:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
        alive = {v for v in alive if deg.get(v, 0) >= _KCORE_K}
        counts.append(len(alive))
    converged = counts[-1] == counts[-2]
    final_deg: dict[int, int] = {}
    for a, b in edges:
        if a in alive and b in alive:
            final_deg[a] = final_deg.get(a, 0) + 1
            final_deg[b] = final_deg.get(b, 0) + 1
    return spark.createDataFrame(
        [(int(v), int(final_deg[v]), bool(converged)) for v in sorted(alive)],
        "nation BIGINT, core_degree BIGINT, converged BOOLEAN",
    )


# ---------------------------------------------------------------------------
# Label propagation communities + HITS: the community and hub/authority
# members of the graph family (PageRank ranks globally, triangles measure
# closure, k-core finds the resilient core, components partition — LPA
# groups by neighborhood majority, HITS separates "ships to everyone" from
# "buys from everyone"). Both run a FIXED number of synchronous supersteps
# with the same determinism discipline as PageRank: integer label votes for
# LPA (fully exact), ROUND@12 decimal-summed matvecs + L1 normalization for
# HITS.

LPA_ITERS = 4
HITS_ITERS = 4

_HEAVY_EDGE_SQL = """
    WITH base AS (
      SELECT LEAST(sn, cn) AS a, GREATEST(sn, cn) AS b,
             CAST(SUM(w) AS BIGINT) AS w
      FROM (
        SELECT s.s_nationkey AS sn, c.c_nationkey AS cn, COUNT(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
      ) WHERE sn <> cn GROUP BY 1, 2
    ),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(w) AS BIGINT) AS tot FROM base),
    e AS (SELECT a, b, w FROM base CROSS JOIN t WHERE w * n * 5 >= 6 * tot),
    sym AS (SELECT a AS node, b AS nbr, w FROM e
            UNION ALL SELECT b, a, w FROM e),
    nodes AS (SELECT DISTINCT node FROM sym)"""


def _lpa_oracle(iters: int = LPA_ITERS) -> str:
    sql = _HEAVY_EDGE_SQL + """,
    lp0 AS (SELECT node, node AS lbl FROM nodes)"""
    for i in range(1, iters + 1):
        sql += f""",
    c{i} AS (
      SELECT sym.node, l.lbl, CAST(SUM(sym.w) AS BIGINT) AS sw
      FROM sym JOIN lp{i - 1} l ON l.node = sym.nbr
      GROUP BY 1, 2
    ),
    lp{i} AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY sw DESC, lbl) AS rn
        FROM c{i}) WHERE rn = 1
    )"""
    last = iters
    sql += f"""
    SELECT nt.n_name AS nation, CAST(lp.lbl AS BIGINT) AS community,
           CAST(cs.sz AS BIGINT) AS community_size
    FROM lp{last} lp
    JOIN nation nt ON nt.n_nationkey = lp.node
    JOIN (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS sz
          FROM lp{last} GROUP BY lbl) cs ON cs.lbl = lp.lbl
    ORDER BY nation
    """
    return sql


@query("lpa_trade_communities", oracle=_lpa_oracle())
def lpa_trade_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label propagation communities (Raghavan et al. 2007) on the
    heavy-trade nation graph: 4 synchronous supersteps, each node adopting
    the label with the max incident edge weight (tie-break: smallest
    label). Every vote is an exact integer weight sum, so the whole
    iterative computation is hash-checked — no float enters the loop.
    Scale shape: the line-item edge aggregation runs distributed once;
    the 4 supersteps run as a dimension-bounded driver peel over the
    collected heavy-edge list (<= |nations|^2 rows at ANY data scale,
    all-integer votes with the identical (max weight, min label)
    tie-break) — until r13 they were per-superstep Spark window jobs
    with eager localCheckpoints (OPTIMIZATION_r13.md); output unchanged
    under the hash gate."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .select(
            F.least(supp.s_nationkey, cust.c_nationkey).alias("a"),
            F.greatest(supp.s_nationkey, cust.c_nationkey).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    t = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("w").cast("long").alias("tot"),
    )
    e = (
        base.crossJoin(F.broadcast(t))
        .filter(F.col("w") * F.col("n") * 5 >= 6 * F.col("tot"))
        .select("a", "b", "w")
    )
    # ONE distributed action each: the bounded heavy-edge list + names.
    e_rows = [(r["a"], r["b"], r["w"]) for r in e.collect()]
    names = {
        r["n_nationkey"]: r["n_name"]
        for r in nation.select("n_nationkey", "n_name").collect()
    }
    sym = e_rows + [(b, a, w) for a, b, w in e_rows]
    nodes = sorted({a for a, _, _ in sym})
    lbl = {v: v for v in nodes}
    for _ in range(LPA_ITERS):
        votes: dict[int, dict[int, int]] = {v: {} for v in nodes}
        for node, nbr, w in sym:
            lv = lbl[nbr]
            votes[node][lv] = votes[node].get(lv, 0) + w
        # argmax with the window's exact tie-break: max weight, min label
        lbl = {
            v: min(vt, key=lambda cand: (-vt[cand], cand))
            for v, vt in votes.items()
        }
    sizes: dict[int, int] = {}
    for v in nodes:
        sizes[lbl[v]] = sizes.get(lbl[v], 0) + 1
    rows = sorted(
        (names[v], lbl[v], sizes[lbl[v]]) for v in nodes
    )
    return spark.createDataFrame(
        rows, "nation string, community long, community_size long"
    ).orderBy("nation")


def _hits_oracle(iters: int = HITS_ITERS) -> str:
    sql = """
    WITH e AS (
      SELECT src, dst, w FROM (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s.s_nationkey <> c.c_nationkey
        GROUP BY 1, 2
      )
    ),
    nodes AS (SELECT DISTINCT v AS node FROM
              (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
    nn AS (SELECT COUNT(*) * 1.0 AS n FROM nodes),
    h0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn)"""
    for i in range(1, iters + 1):
        sql += f""",
    ar{i} AS MATERIALIZED (
      SELECT e.dst AS node,
             CAST(SUM(CAST(ROUND(e.w * h.r, 12) AS DECIMAL(38,12)))
                  AS DOUBLE) AS x
      FROM e JOIN h{i - 1} h ON h.node = e.src GROUP BY e.dst
    ),
    asum{i} AS MATERIALIZED (SELECT CAST(SUM(CAST(ROUND(x, 12) AS DECIMAL(38,12)))
                            AS DOUBLE) AS s FROM ar{i}),
    a{i} AS MATERIALIZED (
      SELECT nodes.node,
             ROUND(COALESCE(ar.x, 0.0) / asum{i}.s, 12) AS r
      FROM nodes LEFT JOIN ar{i} ar ON ar.node = nodes.node
      CROSS JOIN asum{i}
    ),
    hr{i} AS MATERIALIZED (
      SELECT e.src AS node,
             CAST(SUM(CAST(ROUND(e.w * a.r, 12) AS DECIMAL(38,12)))
                  AS DOUBLE) AS x
      FROM e JOIN a{i} a ON a.node = e.dst GROUP BY e.src
    ),
    hsum{i} AS MATERIALIZED (SELECT CAST(SUM(CAST(ROUND(x, 12) AS DECIMAL(38,12)))
                            AS DOUBLE) AS s FROM hr{i}),
    h{i} AS MATERIALIZED (
      SELECT nodes.node,
             ROUND(COALESCE(hr.x, 0.0) / hsum{i}.s, 12) AS r
      FROM nodes LEFT JOIN hr{i} hr ON hr.node = nodes.node
      CROSS JOIN hsum{i}
    )"""
    last = iters
    sql += f"""
    SELECT nt.n_name AS nation,
           ROUND(h{last}.r, 8) AS hub,
           ROUND(a{last}.r, 8) AS authority,
           CAST(ROW_NUMBER() OVER (ORDER BY a{last}.r DESC, nt.n_name)
                AS BIGINT) AS rnk
    FROM h{last} JOIN a{last} ON a{last}.node = h{last}.node
    JOIN nation nt ON nt.n_nationkey = h{last}.node
    ORDER BY rnk
    """
    return sql


@query("hits_trade_hubs", oracle=_hits_oracle())
def hits_trade_hubs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg 1999) on the directed nation trade graph
    (supplier nation -> customer nation, edge weight = shipped line
    items): 4 supersteps of a = E^T h, h = E a with L1 normalization —
    hubs are nations that ship to strong buyers, authorities nations that
    buy from strong shippers (PageRank can't separate the two roles).
    L1 (not L2) normalization keeps every step inside the repo's
    rounded-term decimal-sum discipline — no sqrt, so the whole iterative
    float chain is hash-checked like PageRank's. Scale shape: the
    line-item edge aggregation runs distributed once; the 8 supersteps
    run as a dimension-bounded driver peel over the collected
    (<= |nations|^2)-row edge list with bit-exact Catalyst float
    semantics (functions/exactfloat) — until r13 they were 78 Spark jobs
    with eager localCheckpoints (~5.4 s of job wall for a 25-node graph,
    OPTIMIZATION_r13.md); output unchanged under the hash gate."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.functions.exactfloat import (
        dec_sum_double,
        round_half_up,
    )

    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(supp.s_nationkey != cust.c_nationkey)
        .select(
            supp.s_nationkey.alias("src"),
            cust.c_nationkey.alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    # ONE distributed action each: bounded edge list + nation names.
    e_rows = [(r["src"], r["dst"], r["w"]) for r in e.collect()]
    names = {
        r["n_nationkey"]: r["n_name"]
        for r in nation.select("n_nationkey", "n_name").collect()
    }
    nodes = sorted({s for s, _, _ in e_rows} | {d for _, d, _ in e_rows})
    n = float(len(nodes))  # bounded scalar: |nations|

    def matvec(vec: dict, out_src: bool) -> dict:
        # out_src=False: a = E^T h (group by dst, read vec at src);
        # out_src=True:  h = E a   (group by src, read vec at dst).
        terms: dict[int, list[float]] = {}
        for s, d, w in e_rows:
            out, key = (s, d) if out_src else (d, s)
            terms.setdefault(out, []).append(round_half_up(float(w) * vec[key], 12))
        x = {v: dec_sum_double(ts, 12) for v, ts in terms.items()}
        s_tot = dec_sum_double((round_half_up(xv, 12) for xv in x.values()), 12)
        return {v: round_half_up(x.get(v, 0.0) / s_tot, 12) for v in nodes}

    h = {v: 1.0 / n for v in nodes}
    for _ in range(HITS_ITERS):
        a = matvec(h, out_src=False)
        h = matvec(a, out_src=True)
    ranked = sorted(nodes, key=lambda v: (-a[v], names[v]))
    rows = [
        (names[v], round_half_up(h[v], 8), round_half_up(a[v], 8), i + 1)
        for i, v in enumerate(ranked)
    ]
    return spark.createDataFrame(
        rows, "nation string, hub double, authority double, rnk long"
    ).orderBy("rnk")


_HEAVY_EDGE_SQL = """
    WITH base AS (
      SELECT LEAST(sn, cn) AS a, GREATEST(sn, cn) AS b,
             CAST(SUM(w) AS BIGINT) AS w
      FROM (
        SELECT s.s_nationkey AS sn, c.c_nationkey AS cn, COUNT(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
      ) WHERE sn <> cn GROUP BY 1, 2
    ),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(w) AS BIGINT) AS tot FROM base),
    e AS (SELECT a, b FROM base CROSS JOIN t WHERE w * n * 5 >= 6 * tot),
    sym AS (SELECT a AS s, b AS d FROM e UNION ALL SELECT b, a FROM e),
    deg AS (SELECT s AS v, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY s)
"""


def _heavy_edges(spark: SparkSession, sf_dir: str):
    """Shared heavy-trade undirected graph (same 1.2x-mean edge rule as
    k-core, so the graph family analyzes ONE graph): returns (e, sym, deg)
    DataFrames with columns (a,b) / (s,d) / (v,deg)."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(supp.s_nationkey != cust.c_nationkey)
        .select(supp.s_nationkey.alias("sn"), cust.c_nationkey.alias("cn"))
        .groupBy("sn", "cn")
        .agg(F.count(F.lit(1)).alias("w0"))
        .select(
            F.least("sn", "cn").alias("a"),
            F.greatest("sn", "cn").alias("b"),
            F.col("w0"),
        )
        .groupBy("a", "b")
        .agg(F.sum("w0").cast("long").alias("w"))
    )
    t = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("w").cast("long").alias("tot"),
    )
    e = (
        base.crossJoin(F.broadcast(t))
        .filter(F.col("w") * F.col("n") * 5 >= 6 * F.col("tot"))
        .select("a", "b")
        .persist()
    )
    sym = e.select(F.col("a").alias("s"), F.col("b").alias("d")).unionAll(
        e.select(F.col("b").alias("s"), F.col("a").alias("d"))
    )
    deg = sym.groupBy(F.col("s").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    return e, sym, deg


@query(
    "adamic_adar_link_prediction",
    oracle=_HEAVY_EDGE_SQL
    + """,
    nodes AS (SELECT DISTINCT s AS v FROM sym),
    cand AS (
      SELECT x.v AS u, y.v AS v2
      FROM nodes x JOIN nodes y ON x.v < y.v
      WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = x.v AND e.b = y.v)
    ),
    cn AS (
      SELECT c.u, c.v2, s1.d AS z
      FROM cand c
      JOIN sym s1 ON s1.s = c.u
      JOIN sym s2 ON s2.s = c.v2 AND s2.d = s1.d
    ),
    aa AS (
      SELECT cn.u, cn.v2, CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(CAST(ROUND(1.0 / ln(deg.deg), 10) AS DECIMAL(28,10)))
               AS DOUBLE) AS aa
      FROM cn JOIN deg ON deg.v = cn.z
      GROUP BY cn.u, cn.v2
    )
    SELECT na.n_name AS nation_a, nb.n_name AS nation_b, n_common,
           ROUND(aa, 6) AS aa_score,
           CAST(ROW_NUMBER() OVER (
             ORDER BY ROUND(aa, 6) DESC, na.n_name, nb.n_name) AS BIGINT) AS rnk
    FROM aa
    JOIN nation na ON na.n_nationkey = aa.u
    JOIN nation nb ON nb.n_nationkey = aa.v2
    QUALIFY rnk <= 15
    ORDER BY rnk
    """,
)
def adamic_adar_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the heavy-trade nation graph: for
    every non-adjacent node pair, score = sum over common neighbors z of
    1/ln(deg(z)) — the classic "which trade links are missing" ranking.
    A common neighbor necessarily has degree >= 2, so ln never hits 0;
    terms are ROUNDed then DECIMAL-summed (order-independent), and the
    top-15 carries a full tie-break.

    Scale shape: candidates come from the node-pair anti-join against the
    edge set, common neighbors from a two-hop equi-join on the adjacency
    list — the same bounded shapes as the triangle query; nothing scales
    with raw lineitem rows after the first aggregation."""
    nation = load(spark, sf_dir, "nation")
    e, sym, deg = _heavy_edges(spark, sf_dir)
    nodes = sym.select(F.col("s").alias("v")).distinct()
    n1 = nodes.select(F.col("v").alias("u"))
    n2 = nodes.select(F.col("v").alias("v2"))
    cand = (
        n1.join(F.broadcast(n2), F.col("u") < F.col("v2"))
        .join(
            e,
            (F.col("a") == F.col("u")) & (F.col("b") == F.col("v2")),
            "left_anti",
        )
    )
    s1 = sym.select(F.col("s").alias("u1"), F.col("d").alias("z"))
    s2 = sym.select(F.col("s").alias("u2"), F.col("d").alias("z2"))
    cn = (
        cand.join(s1, F.col("u1") == F.col("u"))
        .join(s2, (F.col("u2") == F.col("v2")) & (F.col("z2") == F.col("z")))
        .select("u", "v2", "z")
    )
    aa = (
        cn.join(deg, F.col("v") == F.col("z"))
        .groupBy("u", "v2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum(
                F.round(1.0 / F.log(F.col("deg")), 10).cast("decimal(28,10)")
            )
            .cast("double")
            .alias("aa"),
        )
    )
    na = nation.select(
        F.col("n_nationkey").alias("ka"), F.col("n_name").alias("nation_a")
    )
    nb = nation.select(
        F.col("n_nationkey").alias("kb"), F.col("n_name").alias("nation_b")
    )
    out = (
        aa.join(F.broadcast(na), F.col("ka") == F.col("u"))
        .join(F.broadcast(nb), F.col("kb") == F.col("v2"))
        .select(
            "nation_a",
            "nation_b",
            "n_common",
            F.round("aa", 6).alias("aa_score"),
        )
    )
    w = Window.orderBy(F.desc("aa_score"), F.asc("nation_a"), F.asc("nation_b"))
    return (
        out.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 15)
        .orderBy("rnk")
    )


@query(
    "clustering_coefficient_trade",
    oracle=_HEAVY_EDGE_SQL
    + """,
    tri AS (
      SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
      FROM e e1
      JOIN e e2 ON e1.b = e2.a
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    pn AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
      FROM (
        SELECT ta AS node FROM tri
        UNION ALL SELECT tb FROM tri
        UNION ALL SELECT tc FROM tri
      )
      GROUP BY node
    )
    SELECT n.n_name AS nation, deg.deg AS degree,
           CAST(COALESCE(pn.n_tri, 0) AS BIGINT) AS n_triangles,
           ROUND(CASE WHEN deg.deg >= 2
                 THEN 2.0 * COALESCE(pn.n_tri, 0) / (deg.deg * (deg.deg - 1))
                 ELSE 0.0 END, 6) AS lcc
    FROM deg
    LEFT JOIN pn ON pn.node = deg.v
    JOIN nation n ON n.n_nationkey = deg.v
    ORDER BY nation
    """,
)
def clustering_coefficient_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per nation on the heavy-trade graph:
    lcc(v) = 2*triangles(v) / (deg(v)*(deg(v)-1)) — how close each node's
    neighborhood is to a clique, the closure metric that complements the
    raw triangle counts. Triangles use the same canonical-orientation
    3-join as triangle_count_trade; the ratio is one exact-integer
    division, rounded at 6.

    Scale shape: identical to the triangle query (degree-orientable at
    scale); degree and triangle tables are |V|-row."""
    nation = load(spark, sf_dir, "nation")
    e, _sym, deg = _heavy_edges(spark, sf_dir)
    e1 = e.select(F.col("a").alias("ta"), F.col("b").alias("tb"))
    e2 = e.select(F.col("a").alias("b2"), F.col("b").alias("tc"))
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (
        e1.join(e2, F.col("tb") == F.col("b2"))
        .join(e3, (F.col("ta") == F.col("a3")) & (F.col("tc") == F.col("c3")))
        .select("ta", "tb", "tc")
    )
    pn = (
        tri.select(F.explode(F.array("ta", "tb", "tc")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    )
    return (
        deg.join(pn, F.col("node") == F.col("v"), "left")
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("v"))
        .select(
            F.col("n_name").alias("nation"),
            F.col("deg").alias("degree"),
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_triangles"),
            F.round(
                F.when(
                    F.col("deg") >= 2,
                    2.0
                    * F.coalesce(F.col("n_tri"), F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1)),
                ).otherwise(0.0),
                6,
            ).alias("lcc"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# k-truss: the triangle-grounded tightening of the k-core — every surviving
# edge must sit in >= k-2 triangles AMONG surviving edges, so trees, chains
# and barely-attached spokes that survive a degree peel unravel here.

_KTRUSS_ROUNDS = 3
_KTRUSS_K = 4  # support >= k-2 = 2 triangles per surviving edge


def _ktruss_oracle() -> str:
    sql = """
    WITH base AS MATERIALIZED (
      SELECT LEAST(sn, cn) AS a, GREATEST(sn, cn) AS b,
             CAST(SUM(w) AS BIGINT) AS w
      FROM (
        SELECT s.s_nationkey AS sn, c.c_nationkey AS cn, COUNT(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
      ) WHERE sn <> cn GROUP BY 1, 2
    ),
    t AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(w) AS BIGINT) AS tot FROM base),
    e0 AS MATERIALIZED (
      SELECT a, b FROM base CROSS JOIN t WHERE w * n * 5 >= 6 * tot)"""
    for r in range(1, _KTRUSS_ROUNDS + 1):
        p = r - 1
        sql += f""",
    sym{p} AS MATERIALIZED (
      SELECT a AS s, b AS d FROM e{p} UNION ALL SELECT b, a FROM e{p}),
    sup{r} AS MATERIALIZED (
      SELECT e.a, e.b, CAST(COUNT(*) AS BIGINT) AS s
      FROM e{p} e
      JOIN sym{p} n1 ON n1.s = e.a
      JOIN sym{p} n2 ON n2.s = e.b AND n2.d = n1.d
      GROUP BY e.a, e.b),
    e{r} AS MATERIALIZED (
      SELECT a, b FROM sup{r} WHERE s >= {_KTRUSS_K - 2})"""
    last, prev = _KTRUSS_ROUNDS, _KTRUSS_ROUNDS - 1
    sql += f""",
    fs AS MATERIALIZED (
      SELECT a AS s, b AS d FROM e{last} UNION ALL SELECT b, a FROM e{last})
    SELECT e.a AS nation_a, e.b AS nation_b,
           CAST(COUNT(*) AS BIGINT) AS support,
           (SELECT COUNT(*) FROM e{prev}) = (SELECT COUNT(*) FROM e{last})
             AS converged
    FROM e{last} e
    JOIN fs n1 ON n1.s = e.a
    JOIN fs n2 ON n2.s = e.b AND n2.d = n1.d
    GROUP BY e.a, e.b
    ORDER BY nation_a, nation_b
    """
    return sql


@query("ktruss_trade_graph", oracle=_ktruss_oracle())
def ktruss_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss decomposition (bounded peel) of the heavy-trade nation graph
    — the triangle-grounded member of the graph family, strictly stronger
    than the k-core: every surviving edge must close >= k-2 triangles with
    other SURVIVING edges, so degree-rich but closure-poor structure
    (stars, chains) that a k-core keeps unravels here. Same heavy-edge
    rule as kcore_trade_graph (weight >= 1.2x mean, integer
    cross-multiplied); {rounds} bounded peel rounds with a `converged`
    flag over the last two edge counts.

    Scale shape: the O(|lineitem|) edge aggregation is distributed; the
    peel runs on the collected nations^2-bounded pair list (same
    dimension-table bound as the k-core peel). On a big edge list each
    round is the standard distributed truss step: one triangle
    enumeration via two hash joins on the ordered adjacency + one
    filter-semi-join — exactly the shape the oracle's unroll mirrors.""".format(
        rounds=_KTRUSS_ROUNDS
    )
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .select(F.col("s_nationkey").alias("sn"), F.col("c_nationkey").alias("cn"))
        .filter(F.col("sn") != F.col("cn"))
        .groupBy("sn", "cn")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    base = (
        pairs.select(
            F.least("sn", "cn").alias("a"), F.greatest("sn", "cn").alias("b"), "w"
        )
        .groupBy("a", "b")
        .agg(F.sum("w").cast("long").alias("w"))
    )
    rows = base.collect()  # bounded: nations^2 <= 300 weighted pairs
    n = len(rows)
    tot = sum(r["w"] for r in rows)
    edges = {(r["a"], r["b"]) for r in rows if r["w"] * n * 5 >= 6 * tot}

    def supports(es: set) -> dict:
        adj: dict[int, set] = {}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        return {(a, b): len(adj[a] & adj[b]) for a, b in es}

    sizes = []
    for _ in range(_KTRUSS_ROUNDS):
        sup = supports(edges)
        edges = {e for e in edges if sup[e] >= _KTRUSS_K - 2}
        sizes.append(len(edges))
    converged = sizes[-1] == sizes[-2]
    final_sup = supports(edges)
    return spark.createDataFrame(
        [
            (int(a), int(b), int(final_sup[(a, b)]), bool(converged))
            for a, b in sorted(edges)
        ],
        "nation_a BIGINT, nation_b BIGINT, support BIGINT, converged BOOLEAN",
    )
