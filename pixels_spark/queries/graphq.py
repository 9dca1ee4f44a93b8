"""Iterative graph queries (beyond-parity).

The reference's graph-shaped surface is near-dup clustering only
(connected components, ``dedup_canonical``); this family adds PageRank —
the canonical fixed-point iteration over an edge relation — over a REAL
graph from the fixture: the customer–supplier bipartite graph induced by
orders ⋈ lineitem (an edge where a customer ordered from a supplier),
symmetrized so the walk is undirected and no rank mass dangles.

The oracle unrolls the same six update rounds as chained CTEs in the
shared ANSI dialect (scalar subqueries + joins + GROUP BY only), so the
text runs verbatim on BOTH DuckDB and ``spark.sql`` — iteration count is
fixed, not convergence-tested, precisely so both engines compute the same
deterministic value (compared at the driver's 9-significant-digit float
canonicalization; see FIXTURES.md §Oracle-comparison).

Every graph and recommender query here runs on one of two relations of
orders ⋈ lineitem, each built in exactly one place:

- the customer–supplier edge set, ``cs_edges`` — the customer graph
  family (pagerank, ppr, bfs_hops, label_prop, modularity, assortativity,
  hits); the two weighted builds keep their own per-edge aggregates;
- the per-order part baskets, ``order_baskets`` — the part co-purchase
  family (triangles, transitivity, kcore, link_predict) and the item-item
  recommenders, with ``item_supports`` (per-part basket counts),
  ``basket_pairs`` (one row per within-basket pair) and
  ``copurchase_pairs`` (support-thresholded pair counts) over it.

Each caller keeps its own persist / ``cut_lineage`` choice, and every
oracle keeps its inline CTEs, so correctness is still checked against the
raw tables. The helpers stay in this module: ``rec_model_path``'s build
fingerprint hashes only the defining module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import graph as G
from .registry import declare

_ITERS = 6


def cs_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct customer→supplier edges ``(src 'c<custkey>', dst
    's<suppkey>')``: customer X ordered a line supplied by Y."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    # distinct on the raw INT keys, tag-concat AFTER (r12 optimization,
    # guide §2.3 narrower types): the pair distinct is bijective with the
    # tagged-string distinct, so values are identical, but the distinct
    # exchange now carries two longs instead of two strings and the
    # string build runs once per DISTINCT edge, not once per joined row.
    return (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
    )


def order_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(l_orderkey, ps)``: each order's sorted distinct parts — ONE
    lineitem shuffle (collect_set dedups, so no separate distinct)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )


def item_supports(per_order: DataFrame) -> DataFrame:
    """``(item, n_orders)``: the number of baskets holding each item."""
    return (
        per_order.select(F.explode("ps").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )


def basket_pairs(per_order: DataFrame, a: str, b: str) -> DataFrame:
    """One ``(a, b)`` row per pair of a sorted array column ``ps``, a < b.

    Ordered-pair expansion via array HOFs: pairs are distinct within a
    sorted set by construction, so a support count over them is a plain
    COUNT; fanout is C(size(ps), 2) per row, bounded by basket size, vs
    the equivalent self-join's two lineitem-wide exchanges (measured 27%
    faster at sf0.1)."""
    pair_expr = (
        "transform(ps, (x, i) -> "
        f"transform(slice(ps, i + 2, size(ps)), y -> struct(x AS {a}, y AS {b})))"
    )
    return per_order.select(F.explode(F.flatten(F.expr(pair_expr))).alias("p")).select(
        f"p.{a}", f"p.{b}"
    )


def copurchase_pairs(
    per_order: DataFrame, a: str, b: str, min_support: int
) -> DataFrame:
    """``(a, b, cooccur)``: item pairs sharing >= ``min_support`` baskets."""
    return (
        basket_pairs(per_order, a, b)
        .groupBy(a, b)
        .agg(F.count(F.lit(1)).cast("bigint").alias("cooccur"))
        .filter(F.col("cooccur") >= min_support)
    )


def _pagerank_oracle() -> str:
    head = """
    WITH eb AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS STRING) AS src,
                      's' || CAST(l_suppkey AS STRING) AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS (SELECT src, dst FROM eb
              UNION ALL
              SELECT dst AS src, src AS dst FROM eb),
    deg AS (SELECT src AS node, CAST(COUNT(*) AS DOUBLE) AS outdeg
            FROM edges GROUP BY src),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM deg)"""
    steps = []
    for i in range(1, _ITERS + 1):
        # LEFT JOIN from deg (the node set): a node with out-edges but no
        # in-edges keeps its base rank and keeps contributing — mirrors
        # functions/graph.pagerank's round structure exactly
        steps.append(
            f""",
    r{i} AS (SELECT d.node,
                  0.15 / (SELECT n FROM nn)
                  + 0.85 * coalesce(s.in_sum, CAST(0 AS DOUBLE)) AS pr
           FROM deg d LEFT JOIN (
               SELECT e.dst AS node, SUM(r.pr / dd.outdeg) AS in_sum
               FROM edges e
               JOIN r{i - 1} r ON r.node = e.src
               JOIN deg dd ON dd.node = e.src
               GROUP BY e.dst) s ON s.node = d.node)"""
        )
    return head + "".join(steps) + f"""
    SELECT node, pr FROM r{_ITERS} ORDER BY node
    """


@declare(
    "graph_pagerank",
    sql=_pagerank_oracle(),
    tags=("graph", "iterative", "pagerank", "beyond-parity"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (6 rounds, d=0.85) over the symmetrized customer–supplier
    graph: edge (c_X, s_Y) iff customer X ever ordered a line supplied by
    Y. Each round is one shuffle (edge ⋈ rank on src, groupBy dst with
    map-side partials); edges/degrees persist once; lineage truncated
    every 3 rounds. Mass conservation (Σpr = 1) is property-tested."""
    eb = cs_edges(spark, sf_dir)
    edges = eb.union(eb.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return G.pagerank(edges, iterations=_ITERS, damping=0.85).orderBy("node")


def _ppr_oracle() -> str:
    head = """
    WITH eb AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS STRING) AS src,
                      's' || CAST(l_suppkey AS STRING) AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS (SELECT src, dst FROM eb
              UNION ALL
              SELECT dst AS src, src AS dst FROM eb),
    deg AS (SELECT src AS node, CAST(COUNT(*) AS DOUBLE) AS outdeg
            FROM edges GROUP BY src),
    sd AS (SELECT DISTINCT 'c' || CAST(c_custkey AS STRING) AS node
           FROM customer WHERE c_nationkey = 0),
    seeds AS (SELECT deg.node FROM deg JOIN sd ON deg.node = sd.node),
    ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM seeds),
    nodes AS (SELECT deg.node,
                     CASE WHEN seeds.node IS NOT NULL
                          THEN 0.15 / (SELECT n FROM ns)
                          ELSE CAST(0 AS DOUBLE) END AS base
              FROM deg LEFT JOIN seeds ON deg.node = seeds.node),
    r0 AS (SELECT node,
                  CASE WHEN base > 0 THEN 1.0 / (SELECT n FROM ns)
                       ELSE CAST(0 AS DOUBLE) END AS pr
           FROM nodes)"""
    steps = []
    for i in range(1, _ITERS + 1):
        steps.append(
            f""",
    r{i} AS (SELECT nd.node,
                  nd.base + 0.85 * coalesce(s.in_sum, CAST(0 AS DOUBLE)) AS pr
           FROM nodes nd LEFT JOIN (
               SELECT e.dst AS node, SUM(r.pr / dd.outdeg) AS in_sum
               FROM edges e
               JOIN r{i - 1} r ON r.node = e.src
               JOIN deg dd ON dd.node = e.src
               GROUP BY e.dst) s ON s.node = nd.node)"""
        )
    return head + "".join(steps) + f"""
    SELECT node, pr FROM r{_ITERS} WHERE pr > 0 ORDER BY node
    """


@declare(
    "graph_ppr",
    sql=_ppr_oracle(),
    tags=("graph", "iterative", "pagerank", "personalized", "beyond-parity"),
)
def graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (random walk with restart, 6 rounds,
    d=0.85): teleport mass lands only on nation-0 customers, so ranks
    measure graph proximity TO that seed set — the 'expand a labeled
    subset along the purchase graph' primitive. Zero-rank nodes (not yet
    reached) are filtered on both engines; otherwise the same
    single-shuffle round structure as graph_pagerank."""
    c = load_table(spark, sf_dir, "customer")
    eb = cs_edges(spark, sf_dir)
    edges = eb.union(eb.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    seeds = c.filter(F.col("c_nationkey") == 0).select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node")
    )
    return (
        G.pagerank(edges, iterations=_ITERS, damping=0.85, seeds=seeds)
        .filter(F.col("pr") > 0)
        .orderBy("node")
    )


def _wpr_oracle() -> str:
    head = """
    WITH ew AS (
      SELECT 'c' || CAST(o_custkey AS STRING) AS src,
             's' || CAST(l_suppkey AS STRING) AS dst,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS w
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY o_custkey, l_suppkey
    ),
    edges AS (SELECT src, dst, w FROM ew
              UNION ALL
              SELECT dst AS src, src AS dst, w FROM ew),
    deg AS (SELECT src AS node, sum(w) AS outw FROM edges GROUP BY src),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM deg)"""
    steps = []
    for i in range(1, _ITERS + 1):
        steps.append(
            f""",
    r{i} AS (SELECT d.node,
                  0.15 / (SELECT n FROM nn)
                  + 0.85 * coalesce(s.in_sum, CAST(0 AS DOUBLE)) AS pr
           FROM deg d LEFT JOIN (
               SELECT e.dst AS node, CAST(SUM(CAST(r.pr * (CAST(e.w AS DOUBLE) / CAST(dd.outw AS DOUBLE)) AS DECIMAL(38,30))) AS DOUBLE) AS in_sum
               FROM edges e
               JOIN r{i - 1} r ON r.node = e.src
               JOIN deg dd ON dd.node = e.src
               GROUP BY e.dst) s ON s.node = d.node)"""
        )
    return head + "".join(steps) + f"""
    SELECT node, pr FROM r{_ITERS} ORDER BY node
    """


@declare(
    "graph_pagerank_weighted",
    sql=_wpr_oracle(),
    tags=("graph", "iterative", "pagerank", "weighted", "beyond-parity"),
)
def graph_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REVENUE-weighted PageRank: each customer–supplier edge carries the
    pair's total revenue in INTEGER (cents × discount-percent) units —
    prices and discounts are cents-exact in the fixture, so the weight is
    a BIGINT and the scale factor cancels in w/Σw. Integer weights are
    not a convenience but a correctness requirement: casting the double
    revenue to DECIMAL(18,2) per row diverges between engines on values
    like 12613.994999999999 (DuckDB rounds the SHORTEST decimal
    representation → 12614.00, Spark the exact binary value → 12613.99;
    found by bisecting this query, recorded in FIXTURES.md). A walk step
    follows an edge with probability
    weight / Σ_out weights — rank now measures money-flow centrality, not
    mere connectivity. Same one-shuffle round structure; the weighted
    split costs nothing extra (the weight fraction is precomputed into
    the cached contribution table exactly like 1/outdeg)."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    ew = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
                * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("bigint"))
            ).alias("w")
        )
    )
    edges = ew.union(
        ew.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    return G.pagerank(edges, iterations=_ITERS, damping=0.85, weight_col="w").orderBy(
        "node"
    )


_TRI_EDGES_SQL = """
    WITH edges AS (
      SELECT least(a.l_partkey, b.l_partkey) AS s1,
             greatest(a.l_partkey, b.l_partkey) AS s2
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY least(a.l_partkey, b.l_partkey),
               greatest(a.l_partkey, b.l_partkey)
      HAVING count(DISTINCT a.l_orderkey) >= 2
    )"""


@declare(
    "graph_triangles",
    sql=_TRI_EDGES_SQL
    + """,
    tri AS (
      SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
      FROM edges e1
      JOIN edges e2 ON e1.s2 = e2.s1
      JOIN edges e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2),
    tri_nodes AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri),
    tcnt AS (SELECT node, count(*) AS n_tri FROM tri_nodes GROUP BY node),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT s1 AS node FROM edges UNION ALL SELECT s2 FROM edges) d
      GROUP BY node)
    SELECT t.node AS partkey, d.degree,
           CAST(t.n_tri AS BIGINT) AS n_triangles,
           CAST(2 AS DOUBLE) * t.n_tri / (d.degree * (d.degree - 1))
             AS clustering
    FROM tcnt t JOIN deg d ON d.node = t.node
    WHERE d.degree > 1
    ORDER BY n_triangles DESC, partkey
    LIMIT 10
    """,
    tags=("graph", "triangles", "join", "beyond-parity"),
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + local clustering coefficient over the part
    co-purchase graph (parts co-occurring in >= 2 distinct orders — the
    support threshold keeps the graph sparse where raw co-occurrence
    would be near-complete at small SF). The canonical wedge-close
    enumeration (functions/graph.triangles): id-oriented edges, two
    equi-joins, each triangle found exactly once — the primitive behind
    community density and link-spam features in corpus quality scoring.

    Shared-dialect oracle: a three-way self-join restated relationally;
    clustering = 2*tri / (deg*(deg-1)) on integer-derived doubles, exact
    on both engines.

    100 TB: pair generation shuffles lineitem ONCE (``order_baskets`` →
    ``basket_pairs``). Wedge fanout is bounded by per-vertex out-degree,
    controlled by the support threshold (raise it as density grows).
    Both triangle joins are plain equi-joins AQE can re-plan on skew.

    Orientation choice (measured): ``functions.graph`` offers both
    id-ordering and the skew-robust degree-ordering
    (``triangles_degree_ordered``, total wedges = sum C(outdeg,2) =
    O(m^1.5) on ANY degree distribution — property-tested equal,
    star-graph fanout measured in tests/test_graph.py). This co-purchase
    graph is near-uniform (max id-out-degree 199 at sf0.1 even at
    support 1; id-wedges 49M << m^1.5 1.3B), so id-ordering wins here —
    0.5 s vs 4.0 s at sf0.1, the degree joins' overhead buying nothing.
    At 100 TB pick degree-ordering whenever sum C(outdeg_id, 2) (one
    cheap aggregate) exceeds the m^1.5 bound — i.e. real hub-skewed
    link graphs.
    """
    from ..functions.dedup import cut_lineage

    # cut_lineage on the edge relation (r12 optimization): FOUR plan
    # branches consume it (both wedge sides, the closing-edge probe, the
    # degree aggregate) and the measured executed plan replayed the full
    # lineitem→collect_set→pair-explode→(s1,s2) aggregate pipeline for
    # every branch (22 parquet scans, zero ReusedExchange — AQE does not
    # dedup these canonically-distinct subtrees). The checkpoint computes
    # the pair expansion ONCE; consumers re-read its compact blocks.
    edges = cut_lineage(
        copurchase_pairs(order_baskets(spark, sf_dir), "s1", "s2", 2).select(
            "s1", "s2"
        )
    )
    tri = G.triangles(edges)
    # explode(array(a,b,c)) emits the same node multiset as the previous
    # 3-way unionAll of selects, from ONE traversal of the triangle join
    # instead of three replays of it
    tcnt = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    deg = (
        edges.select(F.explode(F.array("s1", "s2")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    return (
        tcnt.join(deg, "node")
        .filter(F.col("degree") > 1)
        .select(
            F.col("node").alias("partkey"),
            "degree",
            "n_triangles",
            (
                2.0
                * F.col("n_triangles")
                / (F.col("degree") * (F.col("degree") - 1))
            )
            .cast("double")
            .alias("clustering"),
        )
        .orderBy(F.col("n_triangles").desc(), "partkey")
        .limit(10)
    )


_BFS_HOPS = 3


def _bfs_oracle() -> str:
    """Unrolled delta-free BFS: d_i(node) = min hops within i rounds.
    Pure joins + GROUP BY MIN over exact integers — runs verbatim on
    DuckDB and spark.sql (dialect-shared, strict compare)."""
    head = """
    WITH eb AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS STRING) AS src,
                      's' || CAST(l_suppkey AS STRING) AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS (SELECT src, dst FROM eb
              UNION ALL
              SELECT dst AS src, src AS dst FROM eb),
    d0 AS (SELECT DISTINCT 'c' || CAST(c_custkey AS STRING) AS node, 0 AS hops
           FROM customer WHERE c_nationkey = 0)"""
    steps = []
    for i in range(1, _BFS_HOPS + 1):
        steps.append(
            f""",
    d{i} AS (SELECT node, MIN(hops) AS hops FROM (
        SELECT node, hops FROM d{i - 1}
        UNION ALL
        SELECT e.dst AS node, d.hops + 1 AS hops
        FROM d{i - 1} d JOIN edges e ON e.src = d.node
      ) u{i} GROUP BY node)"""
        )
    return head + "".join(steps) + f"""
    SELECT node, CAST(hops AS INT) AS hops FROM d{_BFS_HOPS} ORDER BY node
    """


@declare(
    "graph_bfs_hops",
    sql=_bfs_oracle(),
    tags=("graph", "iterative", "bfs", "beyond-parity"),
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS: min-hop distance from nation-0 customers over the
    symmetrized customer–supplier graph, capped at 3 hops (hop 1 = their
    suppliers, hop 2 = customers sharing a supplier, hop 3 = those
    customers' other suppliers — the "expand a labeled subset" primitive
    behind contamination neighborhoods and account-ring triage).

    Spark side is delta-BFS (functions/graph.bfs_hops): each round joins
    only the newly-reached frontier against the src-partitioned edge
    relation, so total join work is O(edges touched) — while the oracle
    states the same fixpoint as 3 unrolled min-merge CTEs (exact
    integers; dialect-shared strict)."""
    c = load_table(spark, sf_dir, "customer")
    eb = cs_edges(spark, sf_dir)
    edges = eb.union(eb.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    seeds = c.filter(F.col("c_nationkey") == 0).select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node")
    )
    return G.bfs_hops(edges, seeds, max_hops=_BFS_HOPS).orderBy("node")


_LP_ROUNDS = 3


def _lp_oracle() -> str:
    """Unrolled synchronous min-label propagation: l_i(v) = min(l_{i-1}(v),
    min over in-neighbors). Pure joins + GROUP BY MIN over strings —
    dialect-shared (runs verbatim on DuckDB and spark.sql)."""
    return _lp_ctes() + f"""
    SELECT node, label FROM l{_LP_ROUNDS} ORDER BY node
    """


def _lp_ctes() -> str:
    """The label-propagation WITH-block alone (edges + l0..l{rounds}) —
    shared by _lp_oracle and graph_modularity's oracle."""
    head = """
    WITH eb AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS STRING) AS src,
                      's' || CAST(l_suppkey AS STRING) AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS (SELECT src, dst FROM eb
              UNION ALL
              SELECT dst AS src, src AS dst FROM eb),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)"""
    steps = []
    for i in range(1, _LP_ROUNDS + 1):
        steps.append(
            f""",
    l{i} AS (SELECT node, MIN(label) AS label FROM (
        SELECT node, label FROM l{i - 1}
        UNION ALL
        SELECT e.dst AS node, l.label AS label
        FROM l{i - 1} l JOIN edges e ON e.src = l.node
      ) u{i} GROUP BY node)"""
        )
    return head + "".join(steps)


@declare(
    "graph_label_prop",
    sql=_lp_oracle(),
    tags=("graph", "iterative", "community", "label-propagation", "beyond-parity"),
)
def graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label propagation (3 synchronous rounds) over the symmetrized
    customer–supplier graph — the bounded-round prefix of connected
    components, and the deterministic core of label-propagation community
    detection (every node's label after round i = min node id within i
    hops). Complements BFS (distance from a seed set) with the
    all-nodes-at-once labeling used for dedup-cluster canonicalization
    and account-ring grouping.

    Spark side is the DELTA form (functions/graph.label_propagation_min):
    each round propagates only labels that improved last round, so join
    work tracks churn; the dialect-shared oracle states the identical
    fixpoint prefix as 3 unrolled min-merge CTEs (min over strings —
    total order, no floats anywhere)."""
    eb = cs_edges(spark, sf_dir)
    edges = eb.union(
        eb.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return G.label_propagation_min(edges, rounds=_LP_ROUNDS).orderBy("node")


_SP_ROUNDS = 3


def _sp_oracle() -> str:
    """Unrolled multi-source Bellman-Ford: d_i(node) = min path weight
    over ≤ i edges. Pure joins + GROUP BY MIN over exact bigints —
    runs verbatim on DuckDB and spark.sql (dialect-shared, strict)."""
    head = """
    WITH eb AS (
      SELECT 'c' || CAST(o_custkey AS STRING) AS src,
             's' || CAST(l_suppkey AS STRING) AS dst,
             MIN(CAST(l_quantity AS BIGINT)) AS w
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY o_custkey, l_suppkey
    ),
    edges AS (SELECT src, dst, w FROM eb
              UNION ALL
              SELECT dst AS src, src AS dst, w FROM eb),
    d0 AS (SELECT DISTINCT 'c' || CAST(c_custkey AS STRING) AS node,
                  CAST(0 AS BIGINT) AS dist
           FROM customer WHERE c_nationkey = 0)"""
    steps = []
    for i in range(1, _SP_ROUNDS + 1):
        steps.append(
            f""",
    d{i} AS (SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{i - 1}
        UNION ALL
        SELECT e.dst AS node, d.dist + e.w AS dist
        FROM d{i - 1} d JOIN edges e ON e.src = d.node
      ) u{i} GROUP BY node)"""
        )
    return head + "".join(steps) + f"""
    SELECT node, dist FROM d{_SP_ROUNDS} ORDER BY node
    """


@declare(
    "graph_shortest_path",
    sql=_sp_oracle(),
    tags=("graph", "iterative", "shortest-path", "beyond-parity"),
)
def graph_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source WEIGHTED shortest paths (3 Bellman-Ford rounds) from
    nation-0 customers over the symmetrized customer–supplier graph,
    edge weight = the pair's minimum order quantity — the cheapest-
    path-within-k-edges primitive behind supply-chain cost triage and
    weighted contamination spread, generalizing ``graph_bfs_hops``
    (unit weights) to real edge costs.

    Spark side is delta-relaxation (functions/graph.shortest_paths):
    each round relaxes only nodes whose distance improved, against the
    src-partitioned edge relation — join work tracks churn, not
    O(rounds × edges). The dialect-shared oracle states the identical
    fixpoint prefix as 3 unrolled min-merge CTEs over exact bigints."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    eb = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.min(F.col("l_quantity").cast("bigint")).alias("w"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
            "w",
        )
    )
    edges = eb.unionByName(
        eb.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    seeds = c.filter(F.col("c_nationkey") == 0).select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node")
    )
    return G.shortest_paths(edges, seeds, rounds=_SP_ROUNDS).orderBy("node")


@declare(
    "rec_item_sim",
    sql="""
    WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_orders
          FROM baskets GROUP BY l_partkey),
    c AS (SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
                 CAST(count(*) AS BIGINT) AS cooccur
          FROM baskets a JOIN baskets b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY a.l_partkey, b.l_partkey
          HAVING count(*) >= 3)
    SELECT item_a, item_b, cooccur, na.n_orders AS n_a, nb.n_orders AS n_b,
           CAST(cooccur AS DOUBLE)
             / sqrt(CAST(na.n_orders AS DOUBLE) * CAST(nb.n_orders AS DOUBLE))
             AS cosine
    FROM c JOIN n na ON na.l_partkey = item_a
           JOIN n nb ON nb.l_partkey = item_b
    ORDER BY cosine DESC, item_a, item_b LIMIT 20
    """,
    tags=("recommender", "cooccurrence", "similarity", "beyond-parity"),
)
def rec_item_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering similarity (the classic
    Amazon-style recommender prep): parts as items, orders as baskets,
    cosine over binary basket vectors = cooccur / √(n_a·n_b), support
    threshold ≥3 shared baskets, top-20 pairs. Cosine is evaluated in
    double FROM exact integer counts — identical expression both
    engines, so the oracle is exact and the text dialect-shared.

    100 TB: pairs and item supports both derive from the persisted
    ``order_baskets`` frame (ONE lineitem shuffle) instead of the
    oracle's relational self-join; the support HAVING prunes the pair
    table before the two small n-joins. Top-20 is sort+limit
    (per-partition heaps). Skew lever at scale: cap or sample
    mega-baskets (a basket of k items emits C(k,2) pairs) before
    expansion."""
    per_order = order_baskets(spark, sf_dir).persist()
    n = item_supports(per_order)
    c = copurchase_pairs(per_order, "item_a", "item_b", 3)
    na = n.select(F.col("item").alias("item_a"), F.col("n_orders").alias("n_a"))
    nb = n.select(F.col("item").alias("item_b"), F.col("n_orders").alias("n_b"))
    return (
        c.join(na, "item_a")
        .join(nb, "item_b")
        .select(
            "item_a",
            "item_b",
            "cooccur",
            "n_a",
            "n_b",
            (
                F.col("cooccur").cast("double")
                / F.sqrt(F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "item_a", "item_b")
        .limit(20)
    )


def _basket_sims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetrized item-item cosine similarity model (rec_item_sim's
    math, support ≥ 3, sim quantized DECIMAL(18,12) — exact on both
    engines): (item, cand, sim). Shared by the rec_model derived build
    and the model-refresh path."""
    per_order = order_baskets(spark, sf_dir)
    n = item_supports(per_order)
    c = copurchase_pairs(per_order, "item_a", "item_b", 3)
    sims = (
        c.join(n.select(F.col("item").alias("item_a"), F.col("n_orders").alias("n_a")), "item_a")
        .join(n.select(F.col("item").alias("item_b"), F.col("n_orders").alias("n_b")), "item_b")
        .select(
            "item_a",
            "item_b",
            (
                F.col("cooccur").cast("double")
                / F.sqrt(F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            )
            .cast("decimal(18,12)")
            .alias("sim"),
        )
    )
    # r12 optimization: symmetrize via one explode(array(...)) traversal
    # instead of unionByName-of-self (which replays the sims subtree)
    return sims.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("item"),
                    F.col("item_b").alias("cand"),
                    F.col("sim").alias("sim"),
                ),
                F.struct(
                    F.col("item_b").alias("item"),
                    F.col("item_a").alias("cand"),
                    F.col("sim").alias("sim"),
                ),
            )
        ).alias("r")
    ).select("r.item", "r.cand", "r.sim")


def rec_model_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per fixture) and return the stored item-item
    similarity model — the BUILD half of the recommender, split from
    serving exactly like the IVF/PQ index builds (storage.derived
    pattern): model refresh is a periodic batch job whose cost is
    amortized across every serving query, not re-paid per request. The
    model is support-thresholded and TINY relative to the interaction
    table (sim stored as physical DECIMAL(18,12) so the serve-side sum
    stays exactly oracle-replayable from the parquet footer types)."""
    import os

    from ..catalog import table_path
    from ..storage.derived import ensure_derived

    def _build(sp: SparkSession, dest: str) -> None:
        _basket_sims(sp, sf_dir).repartition(4).write.mode(
            "overwrite"
        ).parquet(os.path.join(dest, "rec_sym.parquet"))
        # the user->item interaction store (distinct purchase history) —
        # in any production recommender this is a maintained table, not
        # something recomputed from raw order lines per request
        li = load_table(sp, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        o = load_table(sp, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .select("o_custkey", F.col("l_partkey").alias("item"))
            .distinct()
            .repartition(8, "o_custkey")
            .write.mode("overwrite")
            .parquet(os.path.join(dest, "rec_owned.parquet"))
        )

    dest = ensure_derived(
        spark,
        sf_dir,
        name="rec_model",
        source_paths=[
            table_path(sf_dir, "lineitem"),
            table_path(sf_dir, "orders"),
        ],
        build=_build,
        params="v2",
    )
    return os.path.join(dest, "rec_sym.parquet")


_REC_TOPK_SQL = """
    WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_orders
          FROM baskets GROUP BY l_partkey),
    c AS (SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
                 CAST(count(*) AS BIGINT) AS cooccur
          FROM baskets a JOIN baskets b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY a.l_partkey, b.l_partkey HAVING count(*) >= 3),
    sims AS (
      SELECT item_a, item_b,
             CAST(CAST(cooccur AS DOUBLE)
               / sqrt(CAST(na.n_orders AS DOUBLE)
                      * CAST(nb.n_orders AS DOUBLE))
               AS DECIMAL(18,12)) AS sim
      FROM c JOIN n na ON na.l_partkey = item_a
             JOIN n nb ON nb.l_partkey = item_b),
    sym AS (SELECT item_a AS item, item_b AS cand, sim FROM sims
            UNION ALL SELECT item_b AS item, item_a AS cand, sim FROM sims),
    owned AS (SELECT DISTINCT o.o_custkey, b.l_partkey AS item
              FROM baskets b JOIN orders o ON o.o_orderkey = b.l_orderkey),
    scored AS (
      SELECT w.o_custkey, s.cand,
             CAST(sum(s.sim) AS DOUBLE) AS score,
             CAST(count(*) AS BIGINT) AS n_paths
      FROM owned w JOIN sym s ON s.item = w.item
      WHERE NOT EXISTS (SELECT 1 FROM owned w2
                        WHERE w2.o_custkey = w.o_custkey
                          AND w2.item = s.cand)
      GROUP BY w.o_custkey, s.cand),
    ranked AS (
      SELECT o_custkey, cand, score, n_paths,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY score DESC, cand) AS rnk
      FROM scored)
    SELECT CAST(o_custkey AS BIGINT) AS custkey,
           CAST(cand AS BIGINT) AS item, score, n_paths,
           CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 3 ORDER BY custkey, rnk
    """


@declare(
    "rec_user_topk",
    sql=_REC_TOPK_SQL,
    tags=("recommender", "topk", "similarity", "beyond-parity"),
)
def rec_user_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-based recommendation SERVING: top-3 parts per customer,
    scored by summing item-item basket-cosine similarities from every
    part the customer already bought to each candidate they have NOT.
    The similarity model is a STORED derived table (``rec_model_path``
    — built once per fixture like the IVF/PQ indexes; bench prebuilds
    it during staging and reports the cost as derived_build_sec), so
    this query measures the serving path: model read + broadcast,
    interaction join, anti-join exclusion, bounded per-customer top-k.
    Scores sum the model's physical DECIMAL(18,12) sims — the repo's
    order-independent-sum pattern — so the aggregate is exact on both
    engines and the oracle hashes bit-identically.

    100 TB shape: the model is support-thresholded and TINY relative to
    the interaction table — broadcast it; the interaction store (owned)
    is read from its maintained layout, so the only big shuffle left is
    the per-customer aggregate on a natural key. The already-owned
    exclusion is a left-anti join, not a per-row subquery. Top-3 is one
    bounded window per customer."""
    import os

    model_dir = os.path.dirname(rec_model_path(spark, sf_dir))
    sym = spark.read.parquet(os.path.join(model_dir, "rec_sym.parquet"))
    owned = spark.read.parquet(os.path.join(model_dir, "rec_owned.parquet"))
    scored = (
        owned.join(F.broadcast(sym), "item")
        .join(
            owned.select("o_custkey", F.col("item").alias("cand")),
            ["o_custkey", "cand"],
            "left_anti",
        )
        .groupBy("o_custkey", "cand")
        .agg(
            F.sum("sim").cast("double").alias("score"),
            F.count(F.lit(1)).cast("bigint").alias("n_paths"),
        )
    )
    from pyspark.sql import Window

    ranked = scored.select(
        "o_custkey",
        "cand",
        "score",
        "n_paths",
        F.row_number()
        .over(
            Window.partitionBy("o_custkey").orderBy(F.desc("score"), "cand")
        )
        .cast("int")
        .alias("rnk"),
    ).filter(F.col("rnk") <= 3)
    return ranked.select(
        F.col("o_custkey").cast("bigint").alias("custkey"),
        F.col("cand").cast("bigint").alias("item"),
        "score",
        "n_paths",
        "rnk",
    ).orderBy("custkey", "rnk")


@declare(
    "rec_assoc_rules",
    sql="""
    WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    total AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets
              FROM baskets),
    n AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_orders
          FROM baskets GROUP BY l_partkey),
    c AS (SELECT a.l_partkey AS antecedent, b.l_partkey AS consequent,
                 CAST(count(*) AS BIGINT) AS cooccur
          FROM baskets a JOIN baskets b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
          GROUP BY a.l_partkey, b.l_partkey
          HAVING count(*) >= 3)
    SELECT antecedent, consequent, cooccur,
           na.n_orders AS n_ante, nb.n_orders AS n_cons,
           CAST(cooccur AS DOUBLE) / CAST(na.n_orders AS DOUBLE)
             AS confidence,
           (CAST(cooccur AS DOUBLE) * CAST(t.n_baskets AS DOUBLE))
             / (CAST(na.n_orders AS DOUBLE) * CAST(nb.n_orders AS DOUBLE))
             AS lift
    FROM c JOIN n na ON na.l_partkey = antecedent
           JOIN n nb ON nb.l_partkey = consequent
           CROSS JOIN total t
    ORDER BY lift DESC, antecedent, consequent LIMIT 30
    """,
    tags=("recommender", "association-rules", "market-basket", "beyond-parity"),
)
def rec_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (Agrawal/Srikant shape): directed
    item pairs with support >= 3 shared orders, confidence
    = supp(a,b)/supp(a), and lift = conf / baseline(b)
    = supp(a,b)*N / (supp(a)*supp(b)); top-30 rules by lift. All ratios
    are single double expressions over exact integer counts — identical
    text both engines, so the oracle is exact AND dialect-shared.

    Scale: directed pairs come from the SAME basket-pair expansion as
    rec_item_sim (emitted once and mirrored), not the oracle's
    basket×basket self-join; the support HAVING prunes before the two
    n-joins; the basket total is a 1-row broadcast cross join
    (plan-lint-allowlisted scalar). Mega-basket cap applies as in
    rec_item_sim. Pairs, supports and the total all reuse the persisted
    ``order_baskets`` frame, so lineitem is shuffled once (r11: re-probed
    11.6× at 25× volume; the earlier two-shuffle form measured 29.9×)."""
    per_order = order_baskets(spark, sf_dir).persist()
    total = per_order.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_baskets")
    )
    n = item_supports(per_order)
    und = copurchase_pairs(per_order, "a", "b", 3)
    # r12 optimization: mirror via ONE explode(array(...)) traversal —
    # the unionByName-of-self form replayed the pair explode + (a,b)
    # aggregate once per branch (same multiset, single plan branch)
    c = und.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a").alias("antecedent"),
                    F.col("b").alias("consequent"),
                    F.col("cooccur").alias("cooccur"),
                ),
                F.struct(
                    F.col("b").alias("antecedent"),
                    F.col("a").alias("consequent"),
                    F.col("cooccur").alias("cooccur"),
                ),
            )
        ).alias("r")
    ).select("r.antecedent", "r.consequent", "r.cooccur")
    na = n.select(F.col("item").alias("antecedent"), F.col("n_orders").alias("n_ante"))
    nb = n.select(F.col("item").alias("consequent"), F.col("n_orders").alias("n_cons"))
    return (
        c.join(na, "antecedent")
        .join(nb, "consequent")
        .crossJoin(F.broadcast(total))
        .select(
            "antecedent",
            "consequent",
            "cooccur",
            "n_ante",
            "n_cons",
            (F.col("cooccur").cast("double") / F.col("n_ante").cast("double")).alias(
                "confidence"
            ),
            (
                (F.col("cooccur").cast("double") * F.col("n_baskets").cast("double"))
                / (F.col("n_ante").cast("double") * F.col("n_cons").cast("double"))
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "antecedent", "consequent")
        .limit(30)
    )


def _kcore_oracle(k: int = 4, rounds: int = 3) -> str:
    """Unrolled k-core peel: each round re-derives degrees and drops
    <k-degree nodes; dialect-shared (joins + GROUP BY + HAVING only)."""
    parts = [
        """
    WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    base AS (SELECT a.l_partkey AS ia, b.l_partkey AS ib
             FROM baskets a JOIN baskets b
               ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             GROUP BY a.l_partkey, b.l_partkey HAVING count(*) >= 2),
    e0 AS (SELECT ia AS src, ib AS dst FROM base
           UNION ALL SELECT ib AS src, ia AS dst FROM base)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
    d{i} AS (SELECT src, count(*) AS deg FROM e{i - 1} GROUP BY src),
    k{i} AS (SELECT src FROM d{i} WHERE deg >= {k}),
    e{i} AS (SELECT e.src, e.dst FROM e{i - 1} e
             JOIN k{i} a ON e.src = a.src
             JOIN k{i} b ON e.dst = b.src)"""
        )
    parts.append(
        f"""
    SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
    FROM e{rounds} GROUP BY src ORDER BY node"""
    )
    return "".join(parts)


_KCORE_K = 4
_KCORE_ROUNDS = 3


@declare(
    "graph_kcore",
    sql=_kcore_oracle(_KCORE_K, _KCORE_ROUNDS),
    tags=("graph", "kcore", "iterative", "beyond-parity"),
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition prefix (k=4, 3 peel rounds) of the
    co-purchase graph (parts adjacent when >= 2 shared orders): rounds of
    drop-nodes-with-degree<k + drop-their-edges — the standard dense-core
    extractor for community mining and spam/bot subgraph isolation.
    Fixed rounds (not fixpoint) keep it deterministic and the oracle
    unrollable; at the fixture the peel shrinks 1880 -> 860 -> 503 -> 243
    nodes, so every round does real work. Integer-exact; dialect-shared.

    Scale: edge construction is the single-shuffle basket-pair
    expansion (``copurchase_pairs``), NOT the oracle's basket self-join;
    each peel round is one degree aggregate + two semi-joins on a
    monotonically shrinking, src-repartitioned edge set
    (functions/graph.py::kcore)."""
    base = copurchase_pairs(order_baskets(spark, sf_dir), "ia", "ib", 2)
    edges = base.select(
        F.col("ia").alias("src"), F.col("ib").alias("dst")
    ).unionByName(base.select(F.col("ib").alias("src"), F.col("ia").alias("dst")))
    return G.kcore(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS).orderBy("node")


@declare(
    "graph_link_predict",
    sql=_TRI_EDGES_SQL
    + """,
    adj AS (
      SELECT s1 AS a, s2 AS b FROM edges
      UNION ALL SELECT s2 AS a, s1 AS b FROM edges),
    degpre AS (
      SELECT a AS node, CAST(count(*) AS BIGINT) AS degree
      FROM adj GROUP BY a),
    cn AS (
      SELECT x.b AS a, y.b AS c, CAST(count(*) AS BIGINT) AS common_nbrs
      FROM adj x JOIN adj y ON x.a = y.a AND x.b < y.b
      JOIN degpre d ON d.node = x.a
      WHERE d.degree <= 256
      GROUP BY x.b, y.b),
    newp AS (
      SELECT cn.a, cn.c, cn.common_nbrs
      FROM cn LEFT JOIN edges e ON e.s1 = cn.a AND e.s2 = cn.c
      WHERE e.s1 IS NULL),
    deg AS (SELECT node, degree FROM degpre)
    SELECT n.a AS p1, n.c AS p2, n.common_nbrs,
           da.degree AS deg1, dc.degree AS deg2,
           CAST(n.common_nbrs AS DOUBLE)
             / CAST(da.degree + dc.degree - n.common_nbrs AS DOUBLE)
             AS jaccard
    FROM newp n
    JOIN deg da ON da.node = n.a
    JOIN deg dc ON dc.node = n.c
    ORDER BY jaccard DESC, p1, p2 LIMIT 20
    """,
    tags=("graph", "link-prediction", "jaccard", "beyond-parity"),
)
def graph_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the part co-purchase graph: the 20 strongest
    NON-edges by neighborhood Jaccard |Γ(a)∩Γ(c)| / |Γ(a)∪Γ(c)| — the
    classic common-neighbors recommender ("parts bought with the same
    things are substitutes/complements"), and the graph-feature twin of
    ``rec_item_sim``'s basket cosine. Counts are exact integers; the
    Jaccard quotient is one IEEE division, so ordering agrees and the
    text is dialect-shared.

    Scale: candidate pairs come from ONE wedge expansion over per-node
    sorted neighbor lists (the graph_triangles HOF pattern — one
    adjacency shuffle; the oracle's adj⋈adj restates it relationally),
    then an anti-join against the edge set and two degree joins; the
    top-20 is a TakeOrderedAndProject. Wedge centers are capped at
    degree ≤ 256 (hub suppression, restated in the oracle): the r10
    Zipf skew probe measured the uncapped expansion at 608 s (5×-zipf)
    because Σ C(deg,2) is quadratic in hub degree, and hub-mediated
    common-neighbor evidence is the least informative — the standard
    production trade. Uniform fixtures (max degree 199) are unchanged.

    Degree-ordered orientation — RESOLVED as structurally inapplicable
    (VERDICT r8 task #2): orientation speeds TRIANGLE counting because a
    triangle is detected 3× across its vertices and orienting wedges
    low→high degree dedups the detection, capping work at O(m^1.5). The
    common-neighbor statistic has no such redundancy to remove — CN(a,c)
    counts every x adjacent to both, so every wedge (a,x,c) must be
    emitted exactly once and the total Σ_x C(deg(x),2) is an invariant
    of the graph, identical under id- or degree-ordering (measured:
    Σ C(deg,2) = 1,396 at sf0.1 — the support-2 co-purchase graph is
    SPARSE, and the dominant cost is the basket pair expansion building
    the edge set, not the wedge step orientation could re-key). With no
    redundancy to remove and no fanout to re-key, the r9 speedup is
    constant-factor instead: the persisted neighbor-list frame now
    serves both the wedge expansion and the degree projection
    (``size(ps)``), removing the second aggregation over the 2|E|
    adjacency (measured STANDALONE 3.08 → 2.66 s at sf0.1 best-of-3;
    the full-bench in-run number sits ~0.3-0.5 s higher from cold-cache
    and scheduling overhead — see BENCHLOG)."""
    edges = (
        copurchase_pairs(order_baskets(spark, sf_dir), "s1", "s2", 2)
        .select("s1", "s2")
        .persist()
    )
    # r12: symmetrize in one traversal of the persisted edge frame
    # (unionAll-of-self reads it twice)
    adj = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("s1").alias("u"), F.col("s2").alias("v")),
                F.struct(F.col("s2").alias("u"), F.col("s1").alias("v")),
            )
        ).alias("r")
    ).select("r.u", "r.v")
    # one aggregation serves BOTH legs: wedges explode from the neighbor
    # arrays, degrees project as size(ps) off the same persisted frame —
    # no second count-aggregation over the 2|E| adjacency
    nbrs = adj.groupBy("u").agg(
        F.array_sort(F.collect_set("v")).alias("ps")
    ).persist()
    # HUB SUPPRESSION (r10 skew probe): wedge centers explode C(deg,2)
    # pairs, so a Zipf-skewed graph's hub nodes make the expansion
    # quadratic — measured 608 s at the 5×-zipf probe vs ~3 s uniform.
    # Exact CN through a hub is inherently that quadratic (the pairs
    # exist), and hub-mediated evidence is the weakest (a part bought
    # with everything predicts nothing — the stop-word of graphs), so
    # production link predictors drop high-degree intersection nodes.
    # Cap = 256 > the uniform fixtures' max degree (199 at sf0.1), so
    # un-skewed results are unchanged; work is bounded by n·C(256,2)
    # regardless of skew. True degrees still feed the Jaccard
    # denominator. The cap is restated in the SQL oracle.
    cn = (
        basket_pairs(nbrs.filter(F.size("ps") <= 256), "a", "c")
        .groupBy("a", "c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common_nbrs"))
    )
    newp = cn.join(
        edges.select(F.col("s1").alias("a"), F.col("s2").alias("c")),
        ["a", "c"],
        "left_anti",
    )
    deg = nbrs.select("u", F.size("ps").cast("bigint").alias("degree"))
    return (
        newp.join(deg.select(F.col("u").alias("a"), F.col("degree").alias("deg1")), "a")
        .join(deg.select(F.col("u").alias("c"), F.col("degree").alias("deg2")), "c")
        .select(
            F.col("a").alias("p1"),
            F.col("c").alias("p2"),
            "common_nbrs",
            "deg1",
            "deg2",
            (
                F.col("common_nbrs").cast("double")
                / (F.col("deg1") + F.col("deg2") - F.col("common_nbrs")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "p1", "p2")
        .limit(20)
    )


def _modularity_oracle() -> str:
    return _lp_ctes() + f""",
    und AS (SELECT src, dst FROM eb),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
              SELECT src AS node FROM und
              UNION ALL SELECT dst AS node FROM und) u GROUP BY node),
    dc AS (SELECT l.label, CAST(count(*) AS BIGINT) AS n_nodes,
                  CAST(sum(deg.d) AS BIGINT) AS d_c
           FROM l1 l JOIN deg ON deg.node = l.node
           GROUP BY l.label),
    ec AS (SELECT la.label, CAST(count(*) AS BIGINT) AS e_c
           FROM und
           JOIN l1 la ON la.node = und.src
           JOIN l1 lb ON lb.node = und.dst
           WHERE la.label = lb.label GROUP BY la.label),
    per AS (SELECT dc.label, dc.n_nodes, dc.d_c,
                   coalesce(ec.e_c, 0) AS e_c,
                   CAST(4 * m.m * coalesce(ec.e_c, 0) - dc.d_c * dc.d_c
                        AS BIGINT) AS contrib_num,
                   CAST(4 * m.m * m.m AS BIGINT) AS denom
            FROM dc LEFT JOIN ec USING (label) CROSS JOIN m),
    tot AS (SELECT CAST(sum(contrib_num) AS BIGINT) AS tn, max(denom) AS td
            FROM per)
    SELECT per.label AS community, per.n_nodes, per.e_c, per.d_c,
           CAST(per.contrib_num AS DOUBLE) / per.denom AS contribution,
           CAST(tot.tn AS DOUBLE) / tot.td AS modularity
    FROM per CROSS JOIN tot
    ORDER BY community
    """


@declare(
    "graph_modularity",
    sql=_modularity_oracle(),
    tags=("graph", "community", "modularity", "beyond-parity"),
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the label-propagation partition — the
    'did community detection find real structure?' score (Q ≈ 0: no
    better than random given the degree sequence). Communities are the
    1-round min labels (the 3-round labels collapse this dense bipartite
    graph to ONE component — Q degenerately 0 — so the finer 1-hop
    partition is scored; MEASURED Q = −0.062 over 1500 communities at
    sf0.01: the TPC-H-ish order graph genuinely has no community
    structure, and the metric correctly reports it — the stat_benford
    honest-rejection discipline). The graph is the undirected
    customer–supplier edge set. EXACT-INTEGER: Q = Σ_c (4m·e_c − d_c²)
    / (4m²) keeps every community's numerator a BIGINT (internal edges
    e_c, degree sums d_c, edge count m — all exact counts), so the
    per-community contributions and the global Q are each ONE IEEE
    division. Singleton/no-internal-edge communities contribute their
    degree penalty via the LEFT join's 0-coalesce.

    Scale: degrees and labels join at node grain, internal edges at
    edge grain (two label joins — broadcastable at typical community
    counts... the LABEL FRAME is node-grain, so these are ordinary
    node-key hash joins, one shuffle each); the per-community frame is
    tiny and the global Q attaches from its persisted aggregate."""
    eb = cs_edges(spark, sf_dir)
    # 1-round min labels have a CLOSED FORM — min over {v} ∪ neighbors —
    # so one groupBy-MIN replaces the delta-propagation machinery (whose
    # per-round persist/isEmpty scheduling is why label_prop itself is
    # bench-excluded; measured here: 7.9 s → the direct aggregate).
    # BIPARTITE SHORTCUT (r12 optimization): every src is 'c…' and every
    # dst 's…', and both engines compare strings bytewise with 'c' < 's',
    # so min({v} ∪ neighbors(v)) is v ITSELF for customer nodes (all
    # their neighbors sort after 's') and min(src neighbors) for supplier
    # nodes (self loses to every 'c…' neighbor).
    #
    # r13 collapse — the edge-grain internal-edge join is REDUNDANT over
    # the distinct edge set: an edge (src,dst) is internal ⟺ label(src)
    # = label(dst) ⟺ src = min-neighbor(dst), and per supplier node
    # EXACTLY ONE of its distinct edges satisfies that (the min one), so
    # e_c = #supplier nodes labeled c — a count the label aggregate
    # already produces. Both endpoint aggregates further fold into ONE
    # tagged-explode groupBy (supplier rows carry src as the min
    # candidate, customer rows carry NULL; min() ignores nulls, so a
    # node's minsrc is null ⟺ it is a customer). und then has a single
    # consumer, so the r12 localCheckpoint (three consumers re-reading
    # the edge relation) is no longer needed at all. Same values,
    # oracle-verified (the oracle keeps the generic min-label + two-sided
    # label-join form).
    tagged = eb.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("dst").alias("node"), F.col("src").alias("minsrc")
                ),
                F.struct(
                    F.col("src").alias("node"),
                    F.lit(None).cast("string").alias("minsrc"),
                ),
            )
        ).alias("t")
    ).select("t.node", "t.minsrc")
    nodes = tagged.groupBy("node").agg(
        F.min("minsrc").alias("_minsrc"),
        F.count(F.lit(1)).cast("bigint").alias("d"),
    )
    # r12: every global scalar folds to ONE distributed aggregate over
    # the per-community frame — Σ_c d_c = 2m exactly (each edge
    # contributes two endpoint degrees), and the Q numerator expands to
    # Σ contrib = 2·(Σd_c)·(Σe_c) − Σd_c², so the separate und count
    # pass and the second scalar pass both disappear; the 1-row result
    # attaches by broadcast (scale-safe: no global window over the
    # community grain, which is node-bounded, not constant-bounded).
    per = (
        nodes.select(
            F.coalesce(F.col("_minsrc"), F.col("node")).alias("label"),
            "d",
            F.when(F.col("_minsrc").isNotNull(), 1)
            .otherwise(0)
            .alias("_is_s"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("_is_s").cast("bigint").alias("e_c"),
            F.sum("d").cast("bigint").alias("d_c"),
        )
        .select("label", "n_nodes", "e_c", "d_c")
        .persist()
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    tot = per.agg(
        F.sum("d_c").cast("bigint").alias("m2"),
        F.sum("e_c").cast("bigint").alias("se"),
        F.sum(dec("d_c") * F.col("d_c")).alias("sdd"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("label").alias("community"),
            "n_nodes",
            "e_c",
            "d_c",
            (
                (
                    2 * dec("m2") * F.col("e_c")
                    - dec("d_c") * F.col("d_c")
                ).cast("double")
                / (dec("m2") * F.col("m2")).cast("double")
            ).alias("contribution"),
            (
                (2 * dec("m2") * F.col("se") - F.col("sdd")).cast("double")
                / (dec("m2") * F.col("m2")).cast("double")
            ).alias("modularity"),
        )
        .orderBy("community")
    )


@declare(
    "graph_assortativity",
    sql="""
    WITH eb AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS STRING) AS src,
                      's' || CAST(l_suppkey AS STRING) AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    edges AS (SELECT src, dst FROM eb
              UNION ALL SELECT dst AS src, src AS dst FROM eb),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
            FROM edges GROUP BY src),
    ed AS (SELECT da.d AS dx, db.d AS dy
           FROM edges e
           JOIN deg da ON da.node = e.src
           JOIN deg db ON db.node = e.dst),
    s AS (SELECT CAST(count(*) AS BIGINT) AS m2,
                 sum(CAST(dx AS DECIMAL(38,0))) AS sx,
                 sum(CAST(dy AS DECIMAL(38,0))) AS sy,
                 sum(CAST(dx AS DECIMAL(38,0)) * dy) AS sxy,
                 sum(CAST(dx AS DECIMAL(38,0)) * dx) AS sxx,
                 sum(CAST(dy AS DECIMAL(38,0)) * dy) AS syy
          FROM ed)
    SELECT m2 AS n_directed_edges,
           CASE WHEN m2 * sxx > sx * sx AND m2 * syy > sy * sy
                THEN CAST(m2 * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST(m2 * sxx - sx * sx AS DOUBLE)
                            * CAST(m2 * syy - sy * sy AS DOUBLE))
           END AS assortativity
    FROM s
    """,
    tags=("graph", "assortativity", "degree", "beyond-parity"),
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the customer–supplier graph — Pearson
    correlation of endpoint degrees over the (symmetrized) edge list:
    positive = hubs link to hubs (social-network shape), negative = hubs
    link to leaves (hub-and-spoke / bipartite infrastructure shape).
    Complements graph_modularity: one number for 'what KIND of topology
    is this' before any community or ranking analysis. EXACT-INTEGER:
    degrees are counts, all five co-moments accumulate in DECIMAL(38,0)
    over the directed edge list (each undirected edge contributes both
    orientations — the standard estimator), and r is one NULL-guarded
    IEEE chain.

    Scale: one degree aggregate, two node-grain degree attaches onto the
    edge list (node-grain frames — broadcastable or ordinary hash joins),
    one closing aggregate. Nothing quadratic anywhere."""
    from ..functions.dedup import cut_lineage

    und = cut_lineage(cs_edges(spark, sf_dir))
    # SYMMETRY SHORTCUT (r12 optimization): the directed list is the
    # symmetrization of und, so every co-moment over it folds to an
    # exact-integer combination of per-undirected-edge terms —
    #   m2 = 2u, sx = sy = Σ(dx+dy), sxy = 2·Σ dx·dy,
    #   sxx = syy = Σ(dx²+dy²)
    # — which halves the degree-attach join volume (und instead of the
    # doubled edge list) and splits the degree aggregate into the two
    # endpoint-grain aggregates (each over |und| rows, not 2|und|).
    # Everything stays DECIMAL(38,0)-exact, so the emitted doubles are
    # bit-identical to the generic form the oracle keeps.
    cdeg = und.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("dx"))
    sdeg = und.groupBy("dst").agg(F.count(F.lit(1)).cast("bigint").alias("dy"))
    # no broadcast HINT: the degree frames are node-grain (fine to
    # broadcast at fixture scale, but billions of nodes at 100 TB) —
    # AQE picks broadcast when it actually fits
    ed = und.join(cdeg, "src").join(sdeg, "dst")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = ed.agg(
        (F.count(F.lit(1)) * 2).cast("bigint").alias("m2"),
        F.sum(dec("dx") + F.col("dy")).alias("sx"),
        (F.sum(dec("dx") * F.col("dy")) * 2).alias("sxy"),
        F.sum(dec("dx") * F.col("dx") + dec("dy") * F.col("dy")).alias("sxx"),
    )
    num = F.col("m2") * F.col("sxy") - F.col("sx") * F.col("sx")
    d1 = F.col("m2") * F.col("sxx") - F.col("sx") * F.col("sx")
    d2 = d1
    return s.select(
        F.col("m2").alias("n_directed_edges"),
        F.when(
            (d1 > 0) & (d2 > 0),
            num.cast("double") / F.sqrt(d1.cast("double") * d2.cast("double")),
        ).alias("assortativity"),
    )


@declare(
    "graph_transitivity",
    sql=_TRI_EDGES_SQL
    + """,
    tri AS (
      SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
      FROM edges e1
      JOIN edges e2 ON e1.s2 = e2.s1
      JOIN edges e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2),
    tri_nodes AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri),
    tcnt AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri
             FROM tri_nodes GROUP BY node),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT s1 AS node FROM edges UNION ALL SELECT s2 FROM edges) d
      GROUP BY node),
    lc AS (
      SELECT d.degree, coalesce(t.n_tri, 0) AS n_tri,
             CAST(CAST(2.0 * coalesce(t.n_tri, 0)
                       / (d.degree * (d.degree - 1))
                  AS DECIMAL(28,12)) AS DOUBLE) AS c
      FROM deg d LEFT JOIN tcnt t ON t.node = d.node
      WHERE d.degree > 1)
    SELECT CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(degree * (degree - 1) / 2) AS BIGINT) AS n_wedges,
           CAST(sum(n_tri) / 3 AS BIGINT) AS n_triangles,
           CAST(sum(n_tri) AS DOUBLE) / sum(degree * (degree - 1) / 2)
             AS transitivity,
           CAST(sum(CAST(c AS DECIMAL(28,12))) AS DOUBLE) / count(*)
             AS avg_clustering
    FROM lc
    """,
    tags=("graph", "triangles", "clustering", "beyond-parity"),
)
def graph_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global transitivity and average local clustering of the part
    co-purchase graph — the two standard whole-graph density summaries
    that graph_triangles' per-node top-10 does not expose. Transitivity
    = 3·triangles / wedges (closed wedge fraction, wedge-weighted);
    avg clustering = mean over deg>1 nodes of 2·tri_v/(deg_v(deg_v−1))
    (node-weighted — the two diverge exactly when hubs close fewer of
    their many wedges, the Watts–Strogatz vs Newman distinction). Each
    node's coefficient quantizes to DECIMAL(28,12) before the order-
    independent decimal mean; counts are exact BIGINTs (3·tri = Σ n_tri
    restated as sum/3 so both engines compute one integer division).

    Scale: same bounds as graph_triangles — single-shuffle basket-pair
    expansion (fanout capped by order size), two equi-join wedge
    closes (AQE-replannable), then node-grain aggregates; nothing here
    exceeds the triangle enumeration it reuses. On hub-skewed graphs
    switch the enumeration to degree-ordering per graph_triangles'
    documented threshold."""
    from ..functions.dedup import cut_lineage

    # same r12 optimization as graph_triangles: checkpoint the shared
    # edge relation (4 consuming branches, no automatic exchange reuse)
    # and fold the unionAll-of-self node expansions into single-traversal
    # explode(array(...)) forms — identical multisets, one plan branch
    edges = cut_lineage(
        copurchase_pairs(order_baskets(spark, sf_dir), "s1", "s2", 2).select(
            "s1", "s2"
        )
    )
    tri = G.triangles(edges)
    tcnt = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )
    deg = (
        edges.select(F.explode(F.array("s1", "s2")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    lc = (
        deg.join(tcnt, "node", "left")
        .filter(F.col("degree") > 1)
        .select(
            "degree",
            F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_tri"),
            (
                2.0
                * F.coalesce(F.col("n_tri"), F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1))
            )
            .cast("decimal(28,12)")
            .cast("double")
            .alias("c"),
        )
    )
    return lc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum(F.col("degree") * (F.col("degree") - 1) / 2)
        .cast("bigint")
        .alias("n_wedges"),
        (F.sum("n_tri") / 3).cast("bigint").alias("n_triangles"),
        (
            F.sum("n_tri").cast("double")
            / F.sum(F.col("degree") * (F.col("degree") - 1) / 2)
        ).alias("transitivity"),
        (
            F.sum(F.col("c").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_clustering"),
    )


@declare(
    "rec_coverage",
    sql=f"""
    WITH topk AS ({_REC_TOPK_SQL}),
    ic AS (SELECT item, CAST(count(*) AS BIGINT) AS cnt
           FROM topk GROUP BY item),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_recs,
                   CAST(count(*) AS BIGINT) AS n_rec_items
            FROM ic),
    cat AS (SELECT CAST(count(*) AS BIGINT) AS n_catalog FROM part),
    t10 AS (SELECT CAST(sum(cnt) AS BIGINT) AS top10
            FROM (SELECT cnt FROM ic ORDER BY cnt DESC, item LIMIT 10) s)
    SELECT n_recs, n_rec_items, n_catalog,
           CAST(n_rec_items AS DOUBLE) / CAST(n_catalog AS DOUBLE)
             AS coverage,
           CAST(top10 AS DOUBLE) / CAST(n_recs AS DOUBLE) AS top10_share
    FROM tot CROSS JOIN cat CROSS JOIN t10
    """,
    tags=("recommender", "eval", "coverage", "beyond-parity"),
)
def rec_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-coverage / concentration audit of the serving top-3 lists
    (the aggregate-diversity metrics a recommender dashboard tracks next
    to accuracy: how much of the catalog ever gets recommended, and how
    concentrated the recommendations are in the 10 hottest items).
    Composes the rec_user_topk serving path (same stored model), folds
    it to item grain, and reports distinct-item coverage vs the part
    catalog plus the top-10 item share.

    Scale: everything after the serving query is item-grain (one
    map-side aggregate), a 10-row TakeOrdered, and 1-row scalar frames
    crossJoined — bounded by construction."""
    topk = rec_user_topk(spark, sf_dir)
    ic = topk.groupBy("item").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    ).persist()
    tot = ic.agg(
        F.sum("cnt").cast("bigint").alias("n_recs"),
        F.count(F.lit(1)).cast("bigint").alias("n_rec_items"),
    )
    cat = load_table(spark, sf_dir, "part").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_catalog")
    )
    t10 = (
        ic.orderBy(F.col("cnt").desc(), "item")
        .limit(10)
        .agg(F.sum("cnt").cast("bigint").alias("top10"))
    )
    return (
        tot.crossJoin(F.broadcast(cat))
        .crossJoin(F.broadcast(t10))
        .select(
            "n_recs",
            "n_rec_items",
            "n_catalog",
            (
                F.col("n_rec_items").cast("double")
                / F.col("n_catalog").cast("double")
            ).alias("coverage"),
            (
                F.col("top10").cast("double") / F.col("n_recs").cast("double")
            ).alias("top10_share"),
        )
    )


def _hits_oracle(rounds: int = 3) -> str:
    head = """
    WITH e AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS STRING) AS src,
                      's' || CAST(l_suppkey AS STRING) AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    a1 AS (SELECT dst AS node, CAST(count(*) AS DECIMAL(38,0)) AS s
           FROM e GROUP BY dst)"""
    steps = []
    for i in range(1, rounds + 1):
        steps.append(
            f""",
    h{i} AS (SELECT e.src AS node,
                  CAST(sum(a{i}.s) AS DECIMAL(38,0)) AS s
           FROM e JOIN a{i} ON a{i}.node = e.dst GROUP BY e.src)"""
        )
        if i < rounds:
            steps.append(
                f""",
    a{i + 1} AS (SELECT e.dst AS node,
                  CAST(sum(h{i}.s) AS DECIMAL(38,0)) AS s
           FROM e JOIN h{i} ON h{i}.node = e.src GROUP BY e.dst)"""
            )
    last_h, last_a = f"h{rounds}", f"a{rounds}"
    return head + "".join(steps) + f""",
    ht AS (SELECT sum(s) AS t FROM {last_h}),
    at AS (SELECT sum(s) AS t FROM {last_a})
    SELECT node, 'hub' AS side,
           CAST(s AS DOUBLE) / CAST((SELECT t FROM ht) AS DOUBLE) AS score
    FROM {last_h}
    UNION ALL
    SELECT node, 'auth' AS side,
           CAST(s AS DOUBLE) / CAST((SELECT t FROM at) AS DOUBLE) AS score
    FROM {last_a}
    ORDER BY side, node
    """


@declare(
    "graph_hits",
    sql=_hits_oracle(),
    tags=("graph", "iterative", "hits", "beyond-parity"),
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg) over the DIRECTED
    customer->supplier graph (edge c->s iff c ever ordered a line s
    supplied) — the bipartite twin of graph_pagerank: hub scores rank
    customers by how broadly they reach strong suppliers, authority
    scores rank suppliers by how many strong customers reach them. Three
    mutual-reinforcement rounds (auth = sum of in-neighbor hubs, hub =
    sum of out-neighbor auths) run ENTIRELY in DECIMAL(38,0) integer
    arithmetic — the iterates are integer-valued because the seed is the
    in-degree, so no per-round float normalization can drift between
    engines — and ONE L1 normalization at the end is a single IEEE
    division per node by an exactly-summed decimal total. Fixed round
    count (not convergence-tested) keeps both engines deterministic,
    the pagerank-oracle convention.

    Scale: each round is one shuffle (edge frame joined on one side,
    hash-aggregated on the other); the edge frame persists once; scores
    live on the node frames (tiny). DECIMAL(38,0) headroom: iterate
    magnitude ~ (mean degree)^rounds x n_nodes ~ 1e22 at sf100 — 16
    orders below the 1e38 ceiling."""
    e = cs_edges(spark, sf_dir).persist()
    auth = e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("s")
    )
    rounds = 3
    for i in range(rounds):
        # auth lives on the supplier side — the SMALL dimension of the
        # bipartite graph (~30 MB at sf100, inside the repo's 256 MB
        # broadcast threshold), so the auth->hub half-round is a
        # broadcast join: the edge frame never re-shuffles for it
        hub = (
            e.join(
                F.broadcast(auth.withColumnRenamed("node", "_n")),
                F.col("_n") == F.col("dst"),
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("s").cast("decimal(38,0)").alias("s"))
        )
        if i < rounds - 1:
            auth = (
                e.join(
                    hub.withColumnRenamed("node", "_n"), F.col("_n") == F.col("src")
                )
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum("s").cast("decimal(38,0)").alias("s"))
            )
    ht = hub.agg(F.sum("s").alias("t"))
    at = auth.agg(F.sum("s").alias("t"))
    hub_n = hub.crossJoin(F.broadcast(ht)).select(
        "node",
        F.lit("hub").alias("side"),
        (F.col("s").cast("double") / F.col("t").cast("double")).alias("score"),
    )
    auth_n = auth.crossJoin(F.broadcast(at)).select(
        "node",
        F.lit("auth").alias("side"),
        (F.col("s").cast("double") / F.col("t").cast("double")).alias("score"),
    )
    return hub_n.unionAll(auth_n).orderBy("side", "node")
