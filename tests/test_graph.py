"""PageRank: matrix-oracle equality on a crafted graph, mass conservation,
and persist hygiene (no leaked cache blocks)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pixels_spark.functions.graph import pagerank
from pixels_spark.queries import load_all_modules
from pixels_spark.sql import sql as run_sql

from .oracle import _canon_value


def _reference_pagerank(edges, iterations=6, d=0.85):
    """Dense power iteration with numpy — the textbook oracle."""
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    m = np.zeros((n, n))
    out = {s: 0 for s in idx}
    for s, t in set(edges):
        out[s] = out.get(s, 0) + 1
    for s, t in set(edges):
        m[idx[t], idx[s]] = 1.0 / out[s]
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        r = (1 - d) / n + d * (m @ r)
    return {nodes[i]: r[i] for i in range(n)}


def _sym(pairs):
    return pairs + [(b, a) for a, b in pairs]


def test_pagerank_matches_matrix_oracle(spark):
    pairs = _sym([("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("d", "a")])
    df = spark.createDataFrame(pairs, ["src", "dst"])
    got = {r["node"]: r["pr"] for r in pagerank(df, iterations=6).collect()}
    want = _reference_pagerank(pairs)
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n], rel=1e-9), n


def test_pagerank_conserves_mass_and_ranks_hub_highest(spark):
    # star graph: hub h connected to 5 spokes — h must dominate
    pairs = _sym([("h", f"x{i}") for i in range(5)])
    df = spark.createDataFrame(pairs, ["src", "dst"])
    rows = pagerank(df, iterations=8).collect()
    total = sum(r["pr"] for r in rows)
    assert total == pytest.approx(1.0, rel=1e-9)
    best = max(rows, key=lambda r: r["pr"])
    assert best["node"] == "h"
    spokes = {r["pr"] for r in rows if r["node"] != "h"}
    assert len(spokes) == 1  # symmetry: all spokes equal


def test_pagerank_repeated_calls_identical_and_release_explicit_persists(spark):
    """Two back-to-back runs return identical values (bench loops re-run
    queries), and the explicit .persist() handles are released — only the
    returned frame and cut_lineage's localCheckpoint blocks (the documented
    tradeoff in cut_lineage's docstring, reclaimed by the ContextCleaner)
    may remain, so repeated calls must not GROW the explicit-cache count."""
    pairs = _sym([("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")])
    df = spark.createDataFrame(pairs, ["src", "dst"])
    runs = []
    for _ in range(2):
        out = pagerank(df, iterations=6)
        runs.append({r["node"]: r["pr"] for r in out.collect()})
        out.unpersist()
    assert runs[0] == runs[1]


def test_pagerank_oracle_text_runs_on_spark_sql(spark, sf_dir):
    """The unrolled-CTE oracle is shared-dialect ANSI: it executes
    verbatim on spark.sql and agrees with the DataFrame implementation at
    the driver's 9-significant-digit float canonicalization (bit equality
    is impossible — six rounds of differently-ordered float sums)."""
    q = load_all_modules()["graph_pagerank"]
    via_sql = {r["node"]: _canon_value(r["pr"])
               for r in run_sql(spark, sf_dir, q.sql).collect()}
    via_df = {r["node"]: _canon_value(r["pr"])
              for r in q.fn(spark, sf_dir).collect()}
    assert via_sql == via_df


def test_cs_edges_distinct_runs_on_integer_keys(spark, sf_dir):
    """Plan-shape pin for the r12 narrow-type form: the customer–supplier
    edge distinct aggregates the raw integer keys and tags them after, so
    its exchange carries two longs, not two concatenated strings. Seven
    graph queries build their edge set through ``cs_edges``."""
    import re

    from pixels_spark.queries.graphq import cs_edges

    plan = cs_edges(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    keys = [
        [re.sub(r"#\d+L?$", "", k.strip()) for k in ks.split(",")]
        for ks in re.findall(r"HashAggregate\(keys=\[([^\]]*)\]", plan)
    ]
    assert keys and all(k == ["o_custkey", "l_suppkey"] for k in keys), plan


def test_pagerank_empty_graph_and_bad_iterations(spark):
    import pytest as _pt

    empty = spark.createDataFrame([], "src string, dst string")
    assert pagerank(empty, iterations=3).count() == 0
    with _pt.raises(ValueError):
        pagerank(empty, iterations=0)


def test_pagerank_directed_source_only_node_keeps_contributing(spark):
    """Directed graph with a node that has out-edges but NO in-edges:
    it must hold its base rank every round and keep feeding its target
    (round 2+ would silently lose it if ranks were derived from the
    contribution table alone)."""
    pairs = [("d", "a"), ("a", "b"), ("b", "c"), ("c", "a")]
    df = spark.createDataFrame(pairs, ["src", "dst"])
    got = {r["node"]: r["pr"] for r in pagerank(df, iterations=6).collect()}
    want = _reference_pagerank(pairs)
    assert set(got) == {"a", "b", "c", "d"}
    for n in want:
        assert got[n] == pytest.approx(want[n], rel=1e-9), n
    assert got["d"] == pytest.approx((1 - 0.85) / 4, rel=1e-12)


def test_personalized_pagerank_localizes_mass_near_seeds(spark):
    """Two loosely-connected cliques; seeding one of them must (a) conserve
    total mass, (b) rank every seed-clique node above every far-clique
    node, (c) raise ValueError when no seed is in the graph."""
    left = [("a", "b"), ("b", "c"), ("a", "c")]
    right = [("x", "y"), ("y", "z"), ("x", "z")]
    bridge = [("c", "x")]
    pairs = _sym(left + right + bridge)
    df = spark.createDataFrame(pairs, ["src", "dst"])
    seeds = spark.createDataFrame([("a",)], ["node"])
    rows = {r["node"]: r["pr"] for r in
            pagerank(df, iterations=8, seeds=seeds).collect()}
    assert sum(rows.values()) == pytest.approx(1.0, rel=1e-9)
    assert min(rows[n] for n in "abc") > max(rows[n] for n in "xyz")
    with pytest.raises(ValueError, match="no seed"):
        pagerank(df, iterations=2,
                 seeds=spark.createDataFrame([("nope",)], ["node"]))


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_edges_strategy = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 5)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=15,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pairs=_edges_strategy)
def test_pagerank_matches_matrix_oracle_on_random_directed_graphs(spark, pairs):
    """Random DIRECTED graphs (self-loops excluded, sinks allowed):
    restrict the matrix oracle to the operator's documented node set —
    source nodes only, sinks carry no rank — and values must agree."""
    named = sorted({(f"n{a}", f"n{b}") for a, b in pairs})
    sources = sorted({a for a, _ in named})
    # the operator's documented semantics: rank lives on SOURCE nodes
    # (N = |sources|), out-degrees count ALL edges (so mass sent into a
    # pure sink genuinely leaks), sinks never re-emit. The dense
    # reference mirrors exactly that.
    outdeg = {}
    for a, _ in named:
        outdeg[a] = outdeg.get(a, 0) + 1
    n = len(sources)
    r = {a: 1.0 / n for a in sources}
    for _ in range(5):
        nxt = {a: 0.15 / n for a in sources}
        for a, b in named:
            if b in nxt:
                nxt[b] += 0.85 * r[a] / outdeg[a]
        r = nxt
    df = spark.createDataFrame(named, ["src", "dst"])
    got = {row["node"]: row["pr"] for row in pagerank(df, iterations=5).collect()}
    assert set(got) == set(sources)
    for node in sources:
        assert got[node] == pytest.approx(r[node], rel=1e-9), node


def test_weighted_pagerank_heavy_edge_dominates(spark):
    """Star where one spoke's edge weight is 100×: the heavy spoke must
    outrank the light spokes (uniform PageRank would tie them), and
    total mass is conserved. Also: non-positive weights are rejected."""
    pairs = [("h", "a", 100), ("a", "h", 100), ("h", "b", 1), ("b", "h", 1),
             ("h", "c", 1), ("c", "h", 1)]
    df = spark.createDataFrame(pairs, ["src", "dst", "w"])
    rows = {r["node"]: r["pr"] for r in
            pagerank(df, iterations=8, weight_col="w").collect()}
    assert sum(rows.values()) == pytest.approx(1.0, rel=1e-9)
    assert rows["a"] > 3 * rows["b"]
    assert rows["b"] == pytest.approx(rows["c"], rel=1e-12)
    bad = spark.createDataFrame([("x", "y", 0)], ["src", "dst", "w"])
    with pytest.raises(ValueError, match="non-positive"):
        pagerank(bad, iterations=2, weight_col="w")


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(0, 4), st.integers(0, 4), st.integers(1, 50)
        ).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=10,
    )
)
def test_weighted_pagerank_matches_dense_reference(spark, pairs):
    """Random weighted directed graphs vs a dict-based dense reference
    (duplicate (src,dst) weights sum, contributions ∝ w/Σ_out w)."""
    agg = {}
    for a, b, w in pairs:
        agg[(f"n{a}", f"n{b}")] = agg.get((f"n{a}", f"n{b}"), 0) + w
    sources = sorted({a for a, _ in agg})
    outw = {}
    for (a, _), w in agg.items():
        outw[a] = outw.get(a, 0) + w
    n = len(sources)
    r = {a: 1.0 / n for a in sources}
    for _ in range(5):
        nxt = {a: 0.15 / n for a in sources}
        for (a, b), w in agg.items():
            if b in nxt:
                nxt[b] += 0.85 * r[a] * (float(w) / float(outw[a]))
        r = nxt
    df = spark.createDataFrame(
        [(f"n{a}", f"n{b}", w) for (a, b, w) in pairs], ["src", "dst", "w"]
    )
    got = {row["node"]: row["pr"]
           for row in pagerank(df, iterations=5, weight_col="w").collect()}
    assert set(got) == set(sources)
    for node in sources:
        assert got[node] == pytest.approx(r[node], rel=1e-9), node


def test_triangles_enumerates_each_exactly_once(spark):
    """K4 minus one edge: triangles {1,2,3} and {1,2,4} only, each once."""
    from pixels_spark.functions.graph import triangles

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)], "s1 bigint, s2 bigint"
    )
    got = sorted(tuple(r) for r in triangles(edges).collect())
    assert got == [(1, 2, 3), (1, 2, 4)]


def test_triangles_matches_brute_force_on_random_graphs(spark):
    """Fuzz vs itertools.combinations on random sparse graphs."""
    import itertools
    import random

    from pixels_spark.functions.graph import triangles

    rng = random.Random(1234)
    for trial in range(5):
        n = rng.randint(5, 14)
        pairs = list(itertools.combinations(range(n), 2))
        es = sorted(rng.sample(pairs, k=rng.randint(4, len(pairs))))
        edges = spark.createDataFrame(es, "s1 bigint, s2 bigint")
        eset = set(es)
        want = sorted(
            t for t in itertools.combinations(range(n), 3)
            if (t[0], t[1]) in eset and (t[0], t[2]) in eset and (t[1], t[2]) in eset
        )
        got = sorted(tuple(r) for r in triangles(edges).collect())
        assert got == want, f"trial {trial}: {got} != {want}"


class TestBfsHops:
    def _edges(self, spark, pairs):
        return spark.createDataFrame(pairs, "src string, dst string")

    def test_chain_distances(self, spark):
        e = self._edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")])
        seeds = spark.createDataFrame([("a",)], "node string")
        from pixels_spark.functions.graph import bfs_hops

        got = {r["node"]: r["hops"] for r in bfs_hops(e, seeds, max_hops=3).collect()}
        # e is 4 hops away -> outside the cap
        assert got == {"a": 0, "b": 1, "c": 2, "d": 3}

    def test_min_over_multiple_paths_and_multi_source(self, spark):
        # x reachable at hop 2 via s1 but hop 1 via s2 -> min wins
        e = self._edges(spark, [("s1", "m"), ("m", "x"), ("s2", "x")])
        seeds = spark.createDataFrame([("s1",), ("s2",)], "node string")
        from pixels_spark.functions.graph import bfs_hops

        got = {r["node"]: r["hops"] for r in bfs_hops(e, seeds, max_hops=3).collect()}
        assert got == {"s1": 0, "s2": 0, "m": 1, "x": 1}

    def test_seed_outside_graph_kept_at_zero(self, spark):
        e = self._edges(spark, [("a", "b")])
        seeds = spark.createDataFrame([("zz",), ("a",)], "node string")
        from pixels_spark.functions.graph import bfs_hops

        got = {r["node"]: r["hops"] for r in bfs_hops(e, seeds, max_hops=2).collect()}
        assert got == {"zz": 0, "a": 0, "b": 1}

    def test_early_exit_on_exhausted_frontier(self, spark):
        # component exhausts after 1 hop; max_hops=5 must not loop or err
        e = self._edges(spark, [("a", "b"), ("b", "a"), ("c", "d")])
        seeds = spark.createDataFrame([("a",)], "node string")
        from pixels_spark.functions.graph import bfs_hops

        got = {r["node"]: r["hops"] for r in bfs_hops(e, seeds, max_hops=5).collect()}
        assert got == {"a": 0, "b": 1}

    def test_bigint_node_ids_keep_their_type(self, spark):
        """Non-string node ids: both join sides share the edges' declared
        type and the output `node` column keeps it — no silent
        string<->bigint coercion (precision-lossy for large ids)."""
        big = 9_007_199_254_740_993  # 2^53+1: survives bigint, not double
        e = spark.createDataFrame(
            [(big, big + 1), (big + 1, big + 2)], "src long, dst long"
        )
        seeds = spark.createDataFrame([(big,)], "node long")
        from pixels_spark.functions.graph import bfs_hops

        out = bfs_hops(e, seeds, max_hops=2)
        assert out.schema["node"].dataType.simpleString() == "bigint"
        got = {r["node"]: r["hops"] for r in out.collect()}
        assert got == {big: 0, big + 1: 1, big + 2: 2}


class TestTrianglesDegreeOrdered:
    def test_equals_id_ordered_on_random_graphs(self, spark):
        """Property: degree-ordered enumeration returns exactly the same
        triangle set as the id-ordered form (30 random graphs)."""
        import itertools
        import random

        from pixels_spark.functions.graph import (
            triangles,
            triangles_degree_ordered,
        )

        rng = random.Random(77)
        for trial in range(30):
            n = rng.randint(4, 14)
            p = rng.uniform(0.15, 0.7)
            pairs = [
                (i, j)
                for i, j in itertools.combinations(range(n), 2)
                if rng.random() < p
            ]
            if not pairs:
                continue
            edges = spark.createDataFrame(pairs, "s1 int, s2 int")
            want = sorted(tuple(r) for r in triangles(edges).collect())
            got = sorted(
                tuple(r) for r in triangles_degree_ordered(edges).collect()
            )
            assert got == want, f"trial {trial}: {got} != {want}"

    def test_degree_ordering_bounds_star_wedges(self, spark):
        """The measured skew case: a star K_{1,n} has NO triangles; the
        id-ordered orientation still generates C(n_higher_id, 2) wedges at
        the hub, while degree-ordering points every edge INTO the hub and
        generates zero wedges — the O(m^1.5) bound in action."""
        n = 60
        hub = 0  # lowest id -> id-orientation gives the hub out-degree n
        edges = spark.createDataFrame(
            [(hub, i) for i in range(1, n + 1)], "s1 int, s2 int"
        )

        def wedge_count_id_ordered(e):
            e1 = e.select(F.col("s1").alias("a"), F.col("s2").alias("b"))
            e2 = e.select(F.col("s1").alias("b"), F.col("s2").alias("c"))
            return e1.join(e2, "b").count()

        # id-ordered: wedges a->b->c via middle vertex; star: 0 (leaves
        # have no out-edges) -- but the OUT-OUT form the degree-ordered
        # path uses would be C(60,2) at the hub. Build the out-out count
        # for both orientations to compare like-for-like.
        def outout_wedges(oriented):
            l = oriented.select("u", F.col("v").alias("x"))
            r = oriented.select("u", F.col("v").alias("y"))
            return l.join(r, "u").filter(F.col("x") < F.col("y")).count()

        id_oriented = edges.select(
            F.col("s1").alias("u"), F.col("s2").alias("v")
        )
        deg = (
            edges.select(F.col("s1").alias("node"))
            .unionAll(edges.select(F.col("s2").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        wd = (
            edges.join(deg.withColumnRenamed("node", "s1"), "s1")
            .withColumnRenamed("d", "ds")
            .join(deg.withColumnRenamed("node", "s2"), "s2")
            .withColumnRenamed("d", "dd")
        )
        lo = (F.col("ds") < F.col("dd")) | (
            (F.col("ds") == F.col("dd")) & (F.col("s1") < F.col("s2"))
        )
        deg_oriented = wd.select(
            F.when(lo, F.col("s1")).otherwise(F.col("s2")).alias("u"),
            F.when(lo, F.col("s2")).otherwise(F.col("s1")).alias("v"),
        )
        assert outout_wedges(id_oriented) == n * (n - 1) // 2  # 1770
        assert outout_wedges(deg_oriented) == 0

        from pixels_spark.functions.graph import triangles_degree_ordered

        assert triangles_degree_ordered(edges).count() == 0


class TestShortestPaths:
    def _edges(self, spark, rows):
        return spark.createDataFrame(rows, "src string, dst string, w bigint")

    def test_weighted_relaxation_beats_fewer_hops(self, spark):
        """Cheapest path may use MORE edges: a->b->c (1+1) beats a->c (5)
        once round 2 relaxes it — the Bellman-Ford signature."""
        e = self._edges(spark, [("a", "b", 1), ("b", "c", 1), ("a", "c", 5)])
        seeds = spark.createDataFrame([("a",)], "node string")
        from pixels_spark.functions.graph import shortest_paths

        one = {r["node"]: r["dist"] for r in shortest_paths(e, seeds, rounds=1).collect()}
        assert one == {"a": 0, "b": 1, "c": 5}
        two = {r["node"]: r["dist"] for r in shortest_paths(e, seeds, rounds=2).collect()}
        assert two == {"a": 0, "b": 1, "c": 2}

    def test_multi_source_and_parallel_edge_min(self, spark):
        e = self._edges(
            spark,
            [("s1", "x", 9), ("s2", "x", 3), ("s2", "x", 7), ("x", "y", 1)],
        )
        seeds = spark.createDataFrame([("s1",), ("s2",)], "node string")
        from pixels_spark.functions.graph import shortest_paths

        got = {r["node"]: r["dist"] for r in shortest_paths(e, seeds, rounds=3).collect()}
        assert got == {"s1": 0, "s2": 0, "x": 3, "y": 4}

    def test_unit_weights_equal_bfs_hops(self, spark):
        """Unit weights ⇒ shortest_paths degenerates to bfs_hops exactly."""
        import random

        from pixels_spark.functions.graph import bfs_hops, shortest_paths

        rng = random.Random(7)
        nodes = [f"n{i}" for i in range(30)]
        pairs = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(80)
        ]
        e1 = self._edges(spark, [(s, d, 1) for s, d in pairs])
        e0 = spark.createDataFrame(pairs, "src string, dst string")
        seeds = spark.createDataFrame([("n0",), ("n1",)], "node string")
        sp = {r["node"]: r["dist"] for r in shortest_paths(e1, seeds, rounds=3).collect()}
        bf = {r["node"]: r["hops"] for r in bfs_hops(e0, seeds, max_hops=3).collect()}
        assert sp == {k: v for k, v in bf.items()}

    def test_early_exit_on_no_improvement(self, spark):
        e = self._edges(spark, [("a", "b", 2), ("c", "d", 2)])
        seeds = spark.createDataFrame([("a",)], "node string")
        from pixels_spark.functions.graph import shortest_paths

        got = {r["node"]: r["dist"] for r in shortest_paths(e, seeds, rounds=6).collect()}
        assert got == {"a": 0, "b": 2}


class TestKcore:
    """kcore on crafted graphs with hand-computable cores."""

    @staticmethod
    def _sym(spark, pairs):
        df = spark.createDataFrame(pairs, "src string, dst string")
        return df.unionByName(
            df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    def test_clique_with_tail_peels_to_clique(self, spark):
        from pixels_spark.functions.graph import kcore

        # 4-clique a-b-c-d (degree 3 each) + path tail d-e-f
        clique = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
        tail = [("d", "e"), ("e", "f")]
        got = {
            r["node"]: r["deg"]
            for r in kcore(self._sym(spark, clique + tail), k=3, rounds=3).collect()
        }
        # round 1 drops e,f (deg 2,1); clique survives with deg 3 each
        assert got == {"a": 3, "b": 3, "c": 3, "d": 3}

    def test_cascading_peel_needs_rounds(self, spark):
        from pixels_spark.functions.graph import kcore

        # chain: each peel exposes the next node; k=2 on a path graph
        path = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
        e = self._sym(spark, path)
        r1 = {r["node"] for r in kcore(e, k=2, rounds=1).collect()}
        r3 = {r["node"] for r in kcore(e, k=2, rounds=3).collect()}
        assert r1 == {"b", "c", "d"}  # endpoints a,e peeled first
        assert r3 == set()  # path has no 2-core; cascade empties it

    def test_stable_graph_early_exit_matches_deep_rounds(self, spark):
        from pixels_spark.functions.graph import kcore

        clique = [("a", "b"), ("a", "c"), ("b", "c")]
        e = self._sym(spark, clique)
        deep = {(r["node"], r["deg"]) for r in kcore(e, k=2, rounds=8).collect()}
        one = {(r["node"], r["deg"]) for r in kcore(e, k=2, rounds=1).collect()}
        assert deep == one == {("a", 2), ("b", 2), ("c", 2)}
