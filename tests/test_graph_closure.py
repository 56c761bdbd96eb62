"""Transitive closure operator + SPARQL ``p+``/``p*`` path tests.

The reference has no property paths (SURVEY.md §2.5); semantics here
follow SPARQL 1.1 §9.1 with the standard engine restriction that
zero-length (``*``) identity pairs range over the path's node domain.
"""

from __future__ import annotations

import pytest

from ontario_spark.operators.graph import ClosureError, transitive_closure


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, schema="src string, dst string")


def _pairs(df):
    return {(r["src"], r["dst"]) for r in df.collect()}


def test_closure_chain(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    got = _pairs(transitive_closure(e))
    assert got == {
        ("a", "b"), ("b", "c"), ("c", "d"),
        ("a", "c"), ("b", "d"), ("a", "d"),
    }


def test_closure_cycle_terminates(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    got = _pairs(transitive_closure(e))
    # every node reaches every node (including itself, via the cycle)
    assert got == {(x, y) for x in "abc" for y in "abc"}


def test_closure_identity(spark):
    e = _edges(spark, [("a", "b"), ("b", "c")])
    got = _pairs(transitive_closure(e, include_identity=True))
    assert ("a", "a") in got and ("c", "c") in got
    assert ("a", "c") in got


def test_closure_max_iter_guard(spark):
    chain = [(str(i), str(i + 1)) for i in range(8)]
    with pytest.raises(ClosureError):
        transitive_closure(_edges(spark, chain), max_iter=2)


def test_parser_closure_ast():
    from ontario_spark.sparql.ast import PathClosure
    from ontario_spark.sparql.parser import parse

    q = parse("SELECT ?s ?o WHERE { ?s <http://x/p>+ ?o . }")
    pcs = [e for e in q.where.elements if isinstance(e, PathClosure)]
    assert len(pcs) == 1 and pcs[0].min_len == 1

    q2 = parse("SELECT ?s ?o WHERE { ?s <http://x/p>* ?o . }")
    pcs2 = [e for e in q2.where.elements if isinstance(e, PathClosure)]
    assert len(pcs2) == 1 and pcs2[0].min_len == 0


def test_parser_grouped_quantified_path_ast():
    """Round-10 (VERDICT r9 task 7): a grouped/compound path under a
    quantifier — ``(p1/p2)+`` chains two triples into the closure's
    step group; ``(p1|p2)+`` nests a UnionBlock."""
    from ontario_spark.sparql.ast import Group, PathClosure, Triple, UnionBlock
    from ontario_spark.sparql.parser import parse

    q = parse("SELECT ?s ?o WHERE { ?s (<http://x/p>/<http://x/q>)+ ?o . }")
    (pc,) = [e for e in q.where.elements if isinstance(e, PathClosure)]
    assert pc.min_len == 1 and isinstance(pc.step, Group)
    t1, t2 = pc.step.elements
    assert isinstance(t1, Triple) and isinstance(t2, Triple)
    assert t1.s.value == pc.src_var and t2.o.value == pc.dst_var
    assert t1.o.value == t2.s.value  # fresh chain var links the hops

    q2 = parse("SELECT ?s ?o WHERE { ?s (<http://x/p>|^<http://x/q>)* ?o . }")
    (pc2,) = [e for e in q2.where.elements if isinstance(e, PathClosure)]
    assert pc2.min_len == 0
    (ub,) = pc2.step.elements
    assert isinstance(ub, UnionBlock) and len(ub.branches) == 2
    # the inverse branch swaps subject/object around the same step vars
    (inv_t,) = ub.branches[1].elements
    assert inv_t.s.value == pc2.dst_var and inv_t.o.value == pc2.src_var


def test_engine_grouped_sequence_closure(spark, sf_small):
    """``(ex:nation/ex:region)+`` closes over the COMPILED two-hop
    frame: each composite edge jumps customer/supplier → region in one
    step, and a nation is never an endpoint of the closure."""
    from ontario_spark.catalog.tpch_rdf import EX, tpch_catalog
    from ontario_spark.compiler.query import SparqlEngine

    eng = SparqlEngine(spark, tpch_catalog(sf_small))
    df = eng.query(
        f"PREFIX ex: <{EX}>\n"
        "SELECT ?x ?r WHERE { ?x (ex:nation/ex:region)+ ?r . }"
    )
    rows = [(r["x"], r["r"]) for r in df.collect()]
    assert rows and all("/region/" in r for _, r in rows)
    assert all("/nation/" not in x for x, _ in rows)
    assert any("/customer/" in x for x, _ in rows)
    assert any("/supplier/" in x for x, _ in rows)
    assert len(rows) == len(set(rows))  # ALP pair-distinct semantics


def test_engine_star_identity(spark, sf_small):
    from ontario_spark.catalog.tpch_rdf import EX, tpch_catalog
    from ontario_spark.compiler.query import SparqlEngine

    eng = SparqlEngine(spark, tpch_catalog(sf_small))
    df = eng.query(
        f"PREFIX ex: <{EX}>\n"
        "SELECT ?x WHERE { ?x (ex:nation|ex:region)* <http://ex.org/tpch/region/0> . }"
    )
    xs = {r["x"] for r in df.collect()}
    assert "http://ex.org/tpch/region/0" in xs  # zero-length identity
    assert any("/nation/" in x for x in xs)  # one hop
    assert any("/customer/" in x for x in xs)  # two hops


def test_engine_closure_bound_subject(spark, sf_small):
    from ontario_spark.catalog.tpch_rdf import EX, tpch_catalog
    from ontario_spark.compiler.query import SparqlEngine

    eng = SparqlEngine(spark, tpch_catalog(sf_small))
    df = eng.query(
        f"PREFIX ex: <{EX}>\n"
        "SELECT ?loc WHERE { <http://ex.org/tpch/customer/1> (ex:nation|ex:region)+ ?loc . }"
    )
    locs = {r["loc"] for r in df.collect()}
    assert len(locs) == 2  # its nation and that nation's region
    assert any("/nation/" in x for x in locs) and any("/region/" in x for x in locs)


# --- connected components ----------------------------------------------


def _cc(spark, pairs):
    from ontario_spark.operators.graph import connected_components

    df = spark.createDataFrame(pairs, schema="src long, dst long")
    return {(r["n"], r["component"]) for r in connected_components(df).collect()}


def test_components_two_clusters(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_components_long_chain_converges(spark):
    # diameter > 1 round: forces multiple propagation iterations
    n = 12
    got = _cc(spark, [(i, i + 1) for i in range(n)])
    assert got == {(i, 0) for i in range(n + 1)}


def test_components_direction_irrelevant(spark):
    # edges given high->low still label by the component MIN
    got = _cc(spark, [(5, 4), (3, 4), (9, 8)])
    assert got == {(3, 3), (4, 3), (5, 3), (8, 8), (9, 8)}


def test_components_empty_and_self_loops(spark):
    assert _cc(spark, [(7, 7)]) == set()  # self loops are not edges


def test_components_match_union_find(spark):
    """Randomized cross-check: Spark min-label propagation vs a plain
    Python union-find over the same edge lists."""
    import random

    rng = random.Random(42)
    for trial in range(3):
        n_nodes, n_edges = 30, rng.randint(5, 40)
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {x for e in edges for x in e}
        expected = {}
        for comp in {find(x) for x in touched}:
            members = [x for x in touched if find(x) == comp]
            m = min(members)
            for x in members:
                expected[x] = m
        assert _cc(spark, edges) == set(expected.items()), (trial, edges)


def test_components_string_ids(spark):
    """Content-hash-style STRING node ids take the same convergence
    check as numeric ids (regression: an old numeric label-sum probe
    saw a NULL sum on strings and returned after one round, splitting
    chains)."""
    from ontario_spark.operators.graph import connected_components

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        schema="src string, dst string",
    )
    got = {
        (r["n"], r["component"]) for r in connected_components(df).collect()
    }
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
        ("x", "x"), ("y", "x"),
    }


@pytest.mark.parametrize("ids", ["long", "string"])
def test_components_converge_exactly_at_max_iter(spark, ids):
    """A path of 4 edges reaches its fixpoint after 4 rounds and round
    5 confirms it, so ``max_iter=5`` returns its labels; one node
    longer still moves a label in round 5 and raises. 5 is not a
    multiple of the rounds run between checks, so the last check
    follows a shorter batch."""
    from ontario_spark.operators.graph import connected_components

    def path(n_edges):
        name = (lambda i: i) if ids == "long" else (lambda i: f"n{i:02d}")
        pairs = [(name(i), name(i + 1)) for i in range(n_edges)]
        df = spark.createDataFrame(pairs, schema=f"src {ids}, dst {ids}")
        return df, name

    df, name = path(4)
    got = {(r["n"], r["component"]) for r in connected_components(df, max_iter=5).collect()}
    assert got == {(name(i), name(0)) for i in range(5)}
    longer, _ = path(5)
    with pytest.raises(ClosureError):
        connected_components(longer, max_iter=5)


def test_pagerank_ranks_by_inlinks(spark):
    from ontario_spark.operators.graph import pagerank

    # hub: everyone links to 'z'; 'a' gets one link; 'b' none incoming
    edges = spark.createDataFrame(
        [("a", "z"), ("b", "z"), ("c", "z"), ("c", "a")],
        ["src", "dst"],
    )
    r = {row["node"]: row["rank"] for row in pagerank(edges, iters=5).collect()}
    assert set(r) == {"a", "b", "c", "z"}
    assert r["z"] > r["a"] > r["b"] == r["c"]  # no in-links → floor rank
    # dangling-variant: total mass ≤ 1, positive (z absorbs then leaks)
    assert 0 < sum(r.values()) <= 1.0
    # deterministic across invocations
    r2 = {row["node"]: row["rank"] for row in pagerank(edges, iters=5).collect()}
    assert r == r2


class TestTriangleCounts:
    def test_k4_every_node_in_three_triangles(self, spark):
        from ontario_spark.operators.graph import triangle_counts

        nodes = [1, 2, 3, 4]
        edges = [(a, b) for a in nodes for b in nodes if a < b]
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
        assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    def test_canonicalizes_direction_duplicates_and_loops(self, spark):
        from ontario_spark.operators.graph import triangle_counts

        # triangle 1-2-3 given as mixed directions + dups + a self-loop
        # + a dangling edge; exactly one triangle must be found
        edges = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (3, 3), (3, 4)]
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
        assert got == {1: 1, 2: 1, 3: 1}

    def test_square_without_diagonal_has_no_triangles(self, spark):
        from ontario_spark.operators.graph import triangle_counts

        df = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 1)], ["src", "dst"]
        )
        assert triangle_counts(df).count() == 0


class TestKCore:
    def test_peels_tail_keeps_clique(self, spark):
        from ontario_spark.operators.graph import kcore

        # K4 clique (everyone degree 3) with a pendant chain 4-5-6:
        # the 3-core is exactly the clique; 5 and 6 peel in two rounds
        edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
                 (4, 5), (5, 6)]
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {r["node"]: r["deg"] for r in kcore(df, k=3, rounds=3).collect()}
        assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    def test_whole_graph_below_k_empties(self, spark):
        from ontario_spark.operators.graph import kcore

        df = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], ["src", "dst"])
        assert kcore(df, k=3, rounds=2).count() == 0

    def test_fixture_rounds_reach_fixpoint(self, spark, sf_small):
        """The registry query uses a FIXED 3-round peel (so the oracle
        can unroll it); assert the fixture graph actually converges by
        then — one more round must not change the survivor set."""
        from ontario_spark.queries.events_suite import events_kcore
        from ontario_spark.operators.graph import kcore
        from ontario_spark.data import table
        from pyspark.sql import functions as F

        ev = table(spark, sf_small, "events")
        ui = (
            ev.select(
                "user_id", F.get_json_object("props", "$.k").alias("k")
            )
            .filter(F.col("user_id").isNotNull() & F.col("k").isNotNull())
            .distinct()
        )
        a = ui.select("user_id", F.col("k").alias("ka"))
        b = ui.select(F.col("user_id").alias("ub"), F.col("k").alias("kb"))
        pairs = a.join(
            b, (F.col("user_id") == F.col("ub")) & (F.col("ka") < F.col("kb"))
        ).select(F.col("ka").alias("src"), F.col("kb").alias("dst"))
        r3 = {(r["node"], r["deg"]) for r in kcore(pairs, k=3, rounds=3).collect()}
        r4 = {(r["node"], r["deg"]) for r in kcore(pairs, k=3, rounds=4).collect()}
        assert r3 == r4
        assert {(r["node"], r["deg"]) for r in events_kcore(spark, sf_small).collect()}


class TestBfsDepths:
    def test_hand_built_graph(self, spark):
        from ontario_spark.operators.graph import bfs_depths

        # 1→2→3→4→5 chain + shortcut 1→4 + island 9→10
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 5), (1, 4), (9, 10)], ["src", "dst"]
        )
        seeds = spark.createDataFrame([(1,)], ["node"])
        got = {
            (r.node, r.depth)
            for r in bfs_depths(edges, seeds, max_depth=6).collect()
        }
        # shortcut wins: 4 at depth 1, 5 at depth 2; island unreached
        assert got == {(1, 0), (2, 1), (4, 1), (3, 2), (5, 2)}

    def test_depth_cap_and_multi_seed(self, spark):
        from ontario_spark.operators.graph import bfs_depths

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(10)], ["src", "dst"]
        )
        seeds = spark.createDataFrame([(0,), (7,)], ["node"])
        got = {
            (r.node, r.depth)
            for r in bfs_depths(edges, seeds, max_depth=2).collect()
        }
        # min over seeds; nothing past depth 2
        assert got == {(0, 0), (1, 1), (2, 2), (7, 0), (8, 1), (9, 2)}

    def test_seed_without_edges_keeps_depth_zero(self, spark):
        from ontario_spark.operators.graph import bfs_depths

        edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
        seeds = spark.createDataFrame([(1,), (42,)], ["node"])
        got = {
            (r.node, r.depth)
            for r in bfs_depths(edges, seeds, max_depth=3).collect()
        }
        assert got == {(1, 0), (2, 1), (3, 2), (42, 0)}

    def test_seed_reached_from_another_seed_stays_at_zero(self, spark):
        from ontario_spark.operators.graph import bfs_depths

        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (3, 4)], ["src", "dst"]
        )
        seeds = spark.createDataFrame([(0,), (2,), (2,)], ["node"])
        got = sorted(
            (r.node, r.depth)
            for r in bfs_depths(edges, seeds, max_depth=4).collect()
        )
        assert got == [(0, 0), (1, 1), (2, 0), (3, 1), (4, 2)]

    def test_relaxation_invariant_on_events_graph(self, spark, sf_small):
        """d(v) <= d(u) + 1 for every edge u→v with d(u) < cap — the
        BFS optimality certificate, checked on the real fixture."""
        from ontario_spark.queries.events_suite import events_bfs_depth
        from ontario_spark.data import table
        from pyspark.sql import functions as F

        depth = {r.node: r.depth for r in events_bfs_depth(spark, sf_small).collect()}
        ev = table(spark, sf_small, "events")
        fwd = ev.select(
            F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("src"),
            F.concat(F.lit("k"), F.get_json_object("props", "$.k")).alias("dst"),
        ).filter(F.col("dst").isNotNull()).collect()
        for r in fwd:
            for u, v in ((r.src, r.dst), (r.dst, r.src)):
                if u in depth and depth[u] < 4:
                    assert v in depth and depth[v] <= depth[u] + 1


class TestBipartiteCooccurrence:
    def test_hand_built_counts_and_cap(self, spark):
        from ontario_spark.operators.graph import bipartite_cooccurrence

        rows = [
            (1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "x"), (3, "z"),
            # duplicate interaction must not double-count
            (1, "x"),
        ]
        df = spark.createDataFrame(rows, ["u", "i"])
        out = {
            (r.item_a, r.item_b): r
            for r in bipartite_cooccurrence(df, "u", "i", min_common=2).collect()
        }
        assert set(out) == {("x", "y")}
        r = out[("x", "y")]
        assert (r.n_common, r.deg_a, r.deg_b) == (2, 3, 2)
        assert abs(r.cosine - 2 / (6 ** 0.5)) < 1e-12
        # cap: user 1 has 2 items; cap=1 drops every pair
        capped = bipartite_cooccurrence(
            df, "u", "i", min_common=2, max_items_per_user=1
        ).collect()
        assert capped == []
        # degrees stay uncapped even when the cap binds
        loose = bipartite_cooccurrence(
            df, "u", "i", min_common=1, max_items_per_user=2
        ).collect()
        for row in loose:
            assert row.deg_a in (1, 2, 3) and row.deg_b in (1, 2, 3)


class TestPersonalizedPagerank:
    def test_mass_localizes_at_seeds(self, spark):
        from ontario_spark.operators.graph import personalized_pagerank

        # two disjoint components; seed in the first only
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
             ("x", "y"), ("y", "x")],
            ["src", "dst"],
        )
        seeds = spark.createDataFrame([("a",)], ["node"])
        r = {row.node: row.rank for row in
             personalized_pagerank(edges, seeds, iters=8).collect()}
        # unreachable component gets exactly zero
        assert r["x"] == 0.0 and r["y"] == 0.0
        # the seed holds the most mass; everything reachable has some
        assert r["a"] > r["b"] > 0 and r["c"] > 0
        # leaked-variant invariant: total mass never exceeds 1
        assert sum(r.values()) <= 1.0 + 1e-9

    def test_uniform_seed_set_reduces_toward_pagerank_shape(self, spark):
        from ontario_spark.operators.graph import pagerank, personalized_pagerank

        # seeding EVERY node uniformly makes PPR = PageRank (same
        # recurrence, same teleport distribution)
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")], ["src", "dst"]
        )
        seeds = spark.createDataFrame([("a",), ("b",), ("c",)], ["node"])
        pr = {r.node: r.rank for r in pagerank(edges, iters=5).collect()}
        ppr = {r.node: r.rank for r in
               personalized_pagerank(edges, seeds, iters=5).collect()}
        assert pr == ppr


class TestLabelPropagation:
    def _lp(self, spark, edges, rounds=3):
        from ontario_spark.operators.graph import label_propagation

        df = spark.createDataFrame(edges, ["src", "dst"])
        return {
            r.node: r.label
            for r in label_propagation(df, rounds=rounds).collect()
        }

    def test_two_cliques_with_bridge(self, spark):
        # Two triangles joined by one bridge edge: the bridge does not
        # merge them (each node has 2 in-clique neighbors vs 1 across),
        # so the converged assignment keeps two distinct communities.
        # (The label NAME of the far triangle may leak across the
        # bridge in round 1 — classic synchronous-LPA behavior — but
        # the partition structure stays separate.)
        tri1 = [("a", "b"), ("b", "c"), ("a", "c")]
        tri2 = [("x", "y"), ("y", "z"), ("x", "z")]
        out = self._lp(spark, tri1 + tri2 + [("c", "x")])
        assert out["a"] == out["b"] == out["c"]
        assert out["x"] == out["y"] == out["z"]
        assert out["a"] != out["x"]

    def test_tie_breaks_to_min_label(self, spark):
        # Path a-b-c: after round 1, b sees {a, c} equally often and
        # must take the MINIMUM label.
        out = self._lp(spark, [("a", "b"), ("b", "c")], rounds=1)
        assert out["b"] == "a"

    def test_fixture_rounds_are_stable_on_events_graph(self, spark, sf_small):
        # One extra round over the registry's item graph must not
        # change the assignment count distribution wildly: labels
        # partition the same node set.
        from ontario_spark.queries.events_suite import events_communities

        out = events_communities(spark, sf_small)
        nodes = [r.node for r in out.collect()]
        assert len(nodes) == len(set(nodes))
