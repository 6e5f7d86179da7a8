"""Extended GraphX-family surface: reverse, subgraph, map/join
vertices, shortest paths, personalized PageRank.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from puregraphdb_spark.operators.graph import Graph


@pytest.fixture(scope="module")
def chain(spark):
    """Directed chain 1→2→3→4 plus offshoot 2→5."""
    v = spark.createDataFrame([(i,) for i in range(1, 6)], ["id"])
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (2, 5)], ["src", "dst"])
    return Graph(v, e)


def test_reverse(chain):
    r = chain.reverse()
    assert {(x["src"], x["dst"]) for x in r.edges.collect()} == {
        (2, 1), (3, 2), (4, 3), (5, 2)}


def test_subgraph_drops_dangling_edges(chain):
    sub = chain.subgraph(vpred=F.col("id") <= 3)
    assert {r["id"] for r in sub.vertices.collect()} == {1, 2, 3}
    # edges 3→4 and 2→5 must vanish (endpoint filtered out)
    assert {(x["src"], x["dst"]) for x in sub.edges.collect()} == {(1, 2), (2, 3)}


def test_map_and_join_vertices(spark, chain):
    g2 = chain.map_vertices((F.col("id") * 10).alias("tens"))
    assert dict(g2.vertices.collect()[0].asDict()).keys() == {"id", "tens"}
    extra = spark.createDataFrame([(1, "root")], ["id", "tag"])
    g3 = chain.join_vertices(extra)
    tags = {r["id"]: r["tag"] for r in g3.vertices.collect()}
    assert tags[1] == "root" and tags[2] is None


def test_shortest_paths_chain(chain):
    # distances TO landmark 4 following edge direction
    d = {(r["id"], r["landmark"]): r["dist"]
         for r in chain.shortest_paths([4]).collect()}
    assert d[(4, 4)] == 0
    assert d[(3, 4)] == 1
    assert d[(2, 4)] == 2
    assert d[(1, 4)] == 3
    assert (5, 4) not in d  # 5 cannot reach 4


def test_shortest_paths_multi_landmark(chain):
    d = {(r["id"], r["landmark"]): r["dist"]
         for r in chain.shortest_paths([4, 5]).collect()}
    assert d[(2, 5)] == 1 and d[(1, 5)] == 2
    assert d[(1, 4)] == 3


def test_personalized_pagerank_localizes(spark):
    # two disconnected triangles; walk restarted at 1 must give zero
    # mass to the other component.
    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10)]
    v = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 12]], ["id"])
    g = Graph(v, spark.createDataFrame(edges, ["src", "dst"]))
    pr = {r["id"]: r["pagerank"]
          for r in g.personalized_pagerank(source=1, max_iter=8).collect()}
    assert pr[10] == pr[11] == pr[12] == 0.0
    assert pr[1] > pr[2] > 0


# -- motif / pattern matching (Graph.find) -----------------------------------


@pytest.fixture(scope="module")
def motif_graph(spark):
    """1→2→3→4, 2→5, 1→3 (closing edge), 6→6 (self-loop); vertices
    carry a name attribute."""
    v = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1, 7)], ["id", "name"]
    )
    e = spark.createDataFrame(
        [(1, 2, "a"), (2, 3, "b"), (3, 4, "c"), (2, 5, "d"),
         (1, 3, "e"), (6, 6, "f")],
        ["src", "dst", "etype"],
    )
    return Graph(v, e)


def test_find_single_edge_binds_structs(motif_graph):
    rows = motif_graph.find("(a)-[e]->(b)").collect()
    assert len(rows) == 6
    r = {(x["a"]["id"], x["b"]["id"]): x for x in rows}
    assert r[(1, 2)]["e"]["etype"] == "a"
    assert r[(1, 2)]["a"]["name"] == "v1"
    # column order = first appearance
    assert motif_graph.find("(a)-[e]->(b)").columns == ["a", "e", "b"]


def test_find_two_hop_chain(motif_graph):
    got = {
        (x["a"]["id"], x["b"]["id"], x["c"]["id"])
        for x in motif_graph.find("(a)-[]->(b); (b)-[]->(c)").collect()
    }
    assert got == {(1, 2, 3), (2, 3, 4), (1, 3, 4), (1, 2, 5), (6, 6, 6)}


def test_find_negated_term_open_wedges(motif_graph):
    got = {
        (x["a"]["id"], x["b"]["id"], x["c"]["id"])
        for x in motif_graph.find(
            "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)"
        ).collect()
    }
    # 1→2→3 is CLOSED by 1→3; 6→6→6 closed by 6→6 itself
    assert got == {(2, 3, 4), (1, 3, 4), (1, 2, 5)}


def test_find_shared_dst_and_anonymous(motif_graph):
    # co-parents of a shared child; anonymous edges don't bind
    got = {
        (x["a"]["id"], x["b"]["id"], x["c"]["id"])
        for x in motif_graph.find("(a)-[]->(c); (b)-[]->(c)").collect()
        if x["a"]["id"] < x["b"]["id"]
    }
    assert got == {(1, 2, 3)}


def test_find_self_loop_pattern(motif_graph):
    rows = motif_graph.find("(a)-[]->(a)").collect()
    assert [x["a"]["id"] for x in rows] == [6]


def test_find_without_vertex_attrs_matches(motif_graph):
    full = {
        (x["a"]["id"], x["b"]["id"], x["c"]["id"])
        for x in motif_graph.find("(a)-[]->(b); (b)-[]->(c)").collect()
    }
    bare_df = motif_graph.find("(a)-[]->(b); (b)-[]->(c)",
                               attach_vertex_attrs=False)
    bare = {
        (x["a"]["id"], x["b"]["id"], x["c"]["id"])
        for x in bare_df.collect()
    }
    assert bare == full
    assert bare_df.schema["a"].dataType.fieldNames() == ["id"]


def test_find_plans_equi_joins_not_cartesian(motif_graph):
    plan = motif_graph.find(
        "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)"
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_find_rejects_malformed_patterns(motif_graph):
    with pytest.raises(ValueError, match="bad motif term"):
        motif_graph.find("(a)->(b)")
    with pytest.raises(ValueError, match="empty"):
        motif_graph.find("  ;  ")
    with pytest.raises(ValueError, match="unique"):
        motif_graph.find("(a)-[e]->(b); (b)-[e]->(c)")
    with pytest.raises(ValueError, match="disconnected"):
        motif_graph.find("(a)-[]->(b); (c)-[]->(d)")
    with pytest.raises(ValueError, match="not bound"):
        motif_graph.find("(a)-[]->(b); !(a)-[]->(z)")
    with pytest.raises(ValueError, match="cannot name"):
        motif_graph.find("(a)-[]->(b); !(a)-[x]->(b)")
    with pytest.raises(ValueError, match="both a vertex and an edge"):
        motif_graph.find("(a)-[b]->(b)")
    with pytest.raises(ValueError, match="no positive"):
        motif_graph.find("!(a)-[]->(b)")


def test_harmonic_centrality_path_graph_closed_form(spark):
    from puregraphdb_spark.operators.graph import Graph, harmonic_centrality

    # directed path 0→1→2→3: distances to landmark 0 follow edge
    # direction REVERSED in shortest_paths (dst→src relaxation), i.e.
    # d(v, L) is the forward distance v→L.
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], ["src", "dst"])
    v = spark.createDataFrame([(i,) for i in range(4)], ["id"])
    g = Graph(v, e)
    h = {
        r["id"]: (round(r["harmonic"], 6), r["n_reached"])
        for r in harmonic_centrality(g, [3]).collect()
    }
    # forward distances to 3: d(0)=3, d(1)=2, d(2)=1; 3 itself excluded
    assert h == {0: (round(1 / 3, 6), 1), 1: (0.5, 1), 2: (1.0, 1)}


def test_harmonic_centrality_multi_landmark_sums(spark):
    from puregraphdb_spark.operators.graph import Graph, harmonic_centrality

    # star with spokes → hub (id 0) plus hub → 9
    e = spark.createDataFrame(
        [(i, 0) for i in range(1, 5)] + [(0, 9)], ["src", "dst"])
    v = spark.createDataFrame([(i,) for i in [0, 1, 2, 3, 4, 9]], ["id"])
    g = Graph(v, e)
    h = {r["id"]: (round(r["harmonic"], 6), r["n_reached"])
         for r in harmonic_centrality(g, [0, 9]).collect()}
    # spokes: d=1 to hub, d=2 to 9 → 1 + 0.5; hub: d=1 to 9 only
    assert h[1] == (1.5, 2) and h[2] == (1.5, 2)
    assert h[0] == (1.0, 1)


def test_reach_bounded_hops_dedups_pairs(spark):
    from puregraphdb_spark.operators.graph import Graph

    # diamond 1→2→4, 1→3→4 plus tail 4→5
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)], ["src", "dst"])
    v = spark.createDataFrame([(i,) for i in range(1, 6)], ["id"])
    g = Graph(v, e)
    r2 = {(r["src"], r["dst"]) for r in g.reach(2).collect()}
    # (1,4) via two distinct paths appears ONCE; (1,5) needs 3 hops
    assert r2 == {(1, 2), (1, 3), (2, 4), (3, 4), (4, 5),
                  (1, 4), (2, 5), (3, 5)}
    r3 = {(r["src"], r["dst"]) for r in g.reach(3).collect()}
    assert r3 == r2 | {(1, 5)}
    assert g.reach(1).count() == 5


def test_find_variable_length_term(motif_graph):
    from pyspark.sql import functions as F

    # pairs within <=2 hops
    m = motif_graph.find("(a)-[*..2]->(b)", attach_vertex_attrs=False)
    got = {(r["a"]["id"], r["b"]["id"]) for r in m.collect()}
    direct = {
        (r["src"], r["dst"]) for r in motif_graph.reach(2).collect()
    }
    assert got == direct and len(got) > 0

    # negated variable-length: 1-hop neighbors NOT closable in 2 hops
    n = motif_graph.find(
        "(a)-[]->(b); !(b)-[*..2]->(a)", attach_vertex_attrs=False)
    pairs1 = {(r["src"], r["dst"])
              for r in motif_graph.edges.select("src", "dst").collect()}
    back2 = direct
    expect = {(a, b) for a, b in pairs1 if (b, a) not in back2}
    assert {(r["a"]["id"], r["b"]["id"]) for r in n.collect()} == expect


def test_find_variable_length_rejects_named_edge(motif_graph):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bad motif term"):
        motif_graph.find("(a)-[e*..2]->(b)")


def test_find_edge_predicate_filters_and_binds(spark):
    """``[e:w>=2]`` keeps only matching edges, and the bound struct
    still carries the attribute; ``[:w<2]`` works anonymously."""
    v = spark.createDataFrame([(i,) for i in range(1, 7)], ["id"])
    e = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 5), (3, 4, 2), (4, 5, 1), (1, 3, 7)],
        ["src", "dst", "w"],
    )
    g = Graph(v, e)
    got = sorted(
        (x["a"]["id"], x["b"]["id"], x["e"]["w"])
        for x in g.find("(a)-[e:w>=2]->(b)").collect()
    )
    assert got == [(1, 3, 7), (2, 3, 5), (3, 4, 2)]
    anon = sorted(
        (x["a"]["id"], x["b"]["id"])
        for x in g.find("(a)-[:w<2]->(b)").collect()
    )
    assert anon == [(1, 2), (4, 5)]
    # negated predicate: edge exists but no heavy (w>=5) edge
    neg = sorted(
        (x["a"]["id"], x["b"]["id"])
        for x in g.find("(a)-[]->(b); !(a)-[:w>=5]->(b)").collect()
    )
    assert neg == [(1, 2), (3, 4), (4, 5)]


def test_find_min_hop_range(spark):
    """``[*m..k]`` = shortest-path distance in [m, k]: the 1→3
    shortcut removes (1,3) from [*2..2] even though a 2-hop path
    1→2→3 exists."""
    v = spark.createDataFrame([(i,) for i in range(1, 6)], ["id"])
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (1, 3)], ["src", "dst"]
    )
    g = Graph(v, e)
    got = sorted(
        (x["a"]["id"], x["b"]["id"])
        for x in g.find(
            "(a)-[*2..2]->(b)", attach_vertex_attrs=False
        ).collect()
    )
    assert got == [(1, 4), (2, 4), (3, 5)]
    got23 = sorted(
        (x["a"]["id"], x["b"]["id"])
        for x in g.find(
            "(a)-[*2..3]->(b)", attach_vertex_attrs=False
        ).collect()
    )
    assert got23 == [(1, 4), (1, 5), (2, 4), (2, 5), (3, 5)]


def test_find_predicate_and_minhop_reject_malformed(spark):
    v = spark.createDataFrame([(1,), (2,)], ["id"])
    e = spark.createDataFrame([(1, 2, 1)], ["src", "dst", "w"])
    g = Graph(v, e)
    with pytest.raises(ValueError):
        g.find("(a)-[e:q>2]->(b)")  # unknown column
    with pytest.raises(ValueError):
        g.find("(a)-[e:w>>2]->(b)")  # bad operator
    with pytest.raises(ValueError):
        g.find("(a)-[*3..2]->(b)")  # m > k
    with pytest.raises(ValueError):
        g.find("(a)-[]->(b); !(a)-[:q>1]->(b)")  # bad pred on negated


def test_find_predicate_minhop_plan_no_cartesian(spark):
    """The q91 shape (predicate edge joined to a min-hop term) must
    stay an equi-join pipeline — no cartesian, no nested-loop."""
    v = spark.createDataFrame([(i,) for i in range(1, 7)], ["id"])
    e = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 5), (3, 4, 2), (4, 5, 1)], ["src", "dst", "w"]
    )
    m = Graph(v, e).find(
        "(a)-[e:w>=2]->(b); (b)-[*2..2]->(c)", attach_vertex_attrs=False
    )
    plan = m._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = sorted(
        (x["a"]["id"], x["c"]["id"]) for x in m.collect()
    )
    assert got == [(2, 5)]


def test_find_vertex_id_predicate_applies_to_all_occurrences(spark):
    """``(b:id%2=0)`` must constrain the binding at BOTH terms that
    mention b — including the reach relation of a variable-length
    term, where an output-level filter provably fails to push."""
    v = spark.createDataFrame([(i,) for i in range(1, 8)], ["id"])
    e = spark.createDataFrame(
        [(1, 2, 3), (1, 3, 3), (2, 4, 1), (4, 5, 1), (3, 6, 1),
         (6, 7, 1)],
        ["src", "dst", "w"],
    )
    g = Graph(v, e)
    got = sorted(
        (x["a"]["id"], x["b"]["id"], x["c"]["id"])
        for x in g.find(
            "(a)-[e:w>=2]->(b:id%2=0); (b)-[*2..2]->(c)",
            attach_vertex_attrs=False,
        ).collect()
    )
    # strong edges: 1→2, 1→3; b must be even → b=2 only; dist-2 from
    # 2: 2→4→5 → c=5. b=3 (odd) is excluded even though 3→6→7 exists.
    assert got == [(1, 2, 5)]
    # equivalence: in-term pred ≡ output filter on the same binding
    outf = sorted(
        (x["a"]["id"], x["b"]["id"], x["c"]["id"])
        for x in g.find(
            "(a)-[e:w>=2]->(b); (b)-[*2..2]->(c)",
            attach_vertex_attrs=False,
        ).filter(F.col("b.id") % 2 == 0).collect()
    )
    assert outf == got
    # anonymous-endpoint predicate applies to that occurrence only
    anon = sorted(
        (x["a"]["id"],)
        for x in g.find("(a)-[]->(:id%2=0)").collect()
    )
    assert anon == [(1,), (2,), (3,)]  # →2, →4, →6


def test_find_typed_edge_patterns_via_string_predicate(spark):
    """Property-graph TYPED patterns fall out of the string-literal
    edge predicate: ``[e:etype='follows']`` is the Cypher
    ``-[:FOLLOWS]->`` shape over a single edge table with a type
    column — no per-type edge table needed."""
    v = spark.createDataFrame([(i,) for i in range(1, 5)], ["id"])
    e = spark.createDataFrame(
        [(1, 2, "follows"), (2, 3, "follows"), (2, 3, "blocks"),
         (3, 4, "likes")],
        ["src", "dst", "etype"],
    )
    g = Graph(v, e)
    got = sorted(
        (x["a"]["id"], x["b"]["id"], x["c"]["id"])
        for x in g.find(
            "(a)-[e:etype='follows']->(b); (b)-[f:etype='follows']->(c)"
        ).collect()
    )
    assert got == [(1, 2, 3)]
    # negated typed term: follows-edges not shadowed by a block
    clean = sorted(
        (x["a"]["id"], x["b"]["id"])
        for x in g.find(
            "(a)-[e:etype='follows']->(b); !(a)-[:etype='blocks']->(b)"
        ).collect()
    )
    assert clean == [(1, 2)]


def test_materialized_graph_same_results(spark):
    """materialized() must be a pure performance choice: identical
    find() bindings and degrees on a derived-edge graph."""
    base = spark.createDataFrame(
        [(1, 2, 2), (2, 3, 1), (1, 3, 3), (3, 4, 2)],
        ["src", "dst", "n"],
    )
    e = base.groupBy("src", "dst").agg(F.sum("n").alias("w"))
    v = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    plain = Graph(v, e)
    mat = plain.materialized()
    pat = "(a)-[x:w>=2]->(b); (b)-[*..2]->(c)"
    got_p = sorted(
        (r["a"]["id"], r["b"]["id"], r["c"]["id"])
        for r in plain.find(pat, attach_vertex_attrs=False).collect()
    )
    got_m = sorted(
        (r["a"]["id"], r["b"]["id"], r["c"]["id"])
        for r in mat.find(pat, attach_vertex_attrs=False).collect()
    )
    assert got_m == got_p and len(got_m) > 0
    assert sorted(map(tuple, mat.degrees().collect())) == sorted(
        map(tuple, plain.degrees().collect())
    )


def test_reach_minhop_randomized_vs_bfs_reference(spark):
    """reach(k, m) on random digraphs vs an independent BFS reference:
    the pair set must be exactly {(u,v) : m <= dist(u,v) <= k},
    where dist uses at-least-one-edge paths — so dist(u,u) is the
    shortest CYCLE through u, not 0 (the DSL's `[*m..k]` contract) —
    the randomized-reference discipline for the min-hop lowering."""
    import random
    from collections import deque

    def bfs_dists(n, adj, s):
        dist = {s: 0}
        q = deque([s])
        while q:
            v = q.popleft()
            for w in adj.get(v, ()):
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
        return dist

    rnd = random.Random(23)
    for trial in range(5):
        n = rnd.randint(5, 9)
        edges = set()
        for _ in range(rnd.randint(n, 2 * n)):
            u, v = rnd.sample(range(n), 2)
            edges.add((u, v))
        adj = {}
        for u, v in edges:
            adj.setdefault(u, []).append(v)
        vdf = spark.createDataFrame([(i,) for i in range(n)], ["id"])
        edf = spark.createDataFrame(sorted(edges), ["src", "dst"])
        g = Graph(vdf, edf)
        for m, k in ((1, 3), (2, 2), (2, 4), (3, 3)):
            got = {
                (r["src"], r["dst"]) for r in g.reach(k, m).collect()
            }
            want = set()
            for s in range(n):
                dist = bfs_dists(n, adj, s)
                # at-least-one-edge distance: s→s is the shortest
                # cycle through s (min over in-neighbors u of s)
                cyc = [dist[u] + 1 for u, v in edges
                       if v == s and u in dist]
                for t, d in dist.items():
                    if t == s:
                        if not cyc:
                            continue
                        dd = min(cyc)
                    else:
                        dd = d
                    if m <= dd <= k:
                        want.add((s, t))
            assert got == want, (trial, m, k, sorted(edges))


# -- automatic common-subplan sharing in find() (VERDICT r6 item 6) ----------


def _derived_graph(spark, tmp_path):
    """Edges DERIVED by an aggregate (heavy), as a pipeline would —
    parquet-backed so the only possible ExistingRDD in any plan is
    find()'s sharing checkpoint."""
    path = str(tmp_path / "raw_edges")
    spark.createDataFrame(
        [(1, 2), (1, 2), (2, 3), (2, 3), (3, 4), (1, 3)],
        ["src", "dst"],
    ).write.mode("overwrite").parquet(path)
    raw = spark.read.parquet(path)
    e = raw.groupBy("src", "dst").agg(F.count("*").alias("w"))
    v = e.selectExpr("src as id").union(
        e.selectExpr("dst as id")).distinct()
    return Graph(v, e)


def test_find_auto_shares_heavy_derivation(spark, tmp_path):
    from puregraphdb_spark.plans.explain import physical_plan

    g = _derived_graph(spark, tmp_path)
    shared = g.find("(a)-[]->(b); (b)-[]->(c)", attach_vertex_attrs=False)
    # the derivation is hidden behind one lazy materialization: the
    # physical plan scans the checkpoint RDD instead of replaying the
    # aggregate per term
    assert "ExistingRDD" in physical_plan(shared)
    unshared = g.find("(a)-[]->(b); (b)-[]->(c)",
                      attach_vertex_attrs=False, share_edges=False)
    assert "ExistingRDD" not in physical_plan(unshared)
    # identical results either way
    key = lambda r: (r["a"]["id"], r["b"]["id"], r["c"]["id"])  # noqa: E731
    assert sorted(map(key, shared.collect())) == sorted(
        map(key, unshared.collect()))


def test_find_auto_skips_raw_scans_and_single_terms(spark, tmp_path):
    from puregraphdb_spark.plans.explain import physical_plan

    # raw parquet scan: replay is cheap, pushdown matters -> no share
    path = str(tmp_path / "edges")
    spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], ["src", "dst"]).write.parquet(path)
    e = spark.read.parquet(path)
    v = e.selectExpr("src as id").union(e.selectExpr("dst as id")).distinct()
    g = Graph(v, e)
    df = g.find("(a)-[]->(b); (b)-[]->(c)", attach_vertex_attrs=False)
    assert "ExistingRDD" not in physical_plan(df)
    # single plain term over a heavy derivation: nothing to share
    gd = _derived_graph(spark, tmp_path)
    one = gd.find("(a)-[]->(b)", attach_vertex_attrs=False)
    assert "ExistingRDD" not in physical_plan(one)
    # explicit override still available for the raw scan
    forced = g.find("(a)-[]->(b); (b)-[]->(c)",
                    attach_vertex_attrs=False, share_edges=True)
    assert "ExistingRDD" in physical_plan(forced)


# -- HyperANF approximate neighborhood function ------------------------------


def _sym_graph(spark, edges):
    ids = sorted({x for e in edges for x in e})
    v = spark.createDataFrame([(i,) for i in ids], ["id"])
    sym = list({(a, b) for a, b in edges} | {(b, a) for a, b in edges})
    e = spark.createDataFrame(sym, ["src", "dst"])
    return Graph(v, e), ids, sym


def _exact_nf(ids, sym_edges, max_t):
    """Exact N(t) = #(u,v) pairs with dist <= t, by per-source BFS."""
    adj = {}
    for a, b in sym_edges:
        adj.setdefault(a, set()).add(b)
    nf = []
    for t in range(max_t + 1):
        total = 0
        for s in ids:
            seen, frontier = {s}, {s}
            for _ in range(t):
                frontier = {n for f in frontier
                            for n in adj.get(f, ())} - seen
                seen |= frontier
            total += len(seen)
        nf.append(total)
    return nf


@pytest.mark.parametrize("edges,max_t", [
    # path P6: diameter 5
    ([(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], 5),
    # star S8: diameter 2
    ([(0, i) for i in range(1, 9)], 2),
    # two cliques bridged: K4 - 4-5 - K4
    ([(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5),
      (5, 6), (5, 7), (5, 8), (6, 7), (6, 8), (7, 8)], 3),
])
def test_anf_tracks_exact_neighborhood_function(spark, edges, max_t):
    g, ids, sym = _sym_graph(spark, edges)
    exact = _exact_nf(ids, sym, max_t)
    nf = dict(g.anf(m=64, max_iter=max_t + 2, rel_tol=0.0))
    # estimates exist for every hop to closure, are monotone, and track
    # the exact value within HLL small-range accuracy (linear counting;
    # 30% covers worst-case tiny-set bucket collisions at m=64)
    prev = -1.0
    for t in range(max_t + 1):
        est = nf[t]
        assert est >= prev - 1e-9
        prev = est
        assert abs(est - exact[t]) / exact[t] < 0.30, (t, est, exact[t])


def test_anf_converges_at_closure_and_caps_iterations(spark):
    g, ids, sym = _sym_graph(spark, [(1, 2), (2, 3)])
    nf = g.anf(m=64, max_iter=10, rel_tol=0.01)
    # P3 closes at t=2; the loop must stop well before max_iter
    assert nf[-1][0] <= 4
    assert nf[-1][1] == pytest.approx(nf[-2][1], rel=0.011)


def test_anf_rejects_bad_register_count(spark):
    g, _, _ = _sym_graph(spark, [(1, 2)])
    with pytest.raises(ValueError, match="m must be"):
        g.anf(m=48)


def test_anf_deterministic_across_runs(spark):
    g, _, _ = _sym_graph(spark, [(1, 2), (2, 3), (3, 4), (1, 4)])
    assert g.anf(m=64, max_iter=6) == g.anf(m=64, max_iter=6)


# -- random walks (DeepWalk-style corpus generation) -------------------------


@pytest.fixture(scope="module")
def walk_graph(spark):
    """Cycle 0→1→2→3→0 with a dead-end spur 1→9 (9 is a sink)."""
    v = spark.createDataFrame([(i,) for i in (0, 1, 2, 3, 9)], ["id"])
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0), (1, 9)], ["src", "dst"])
    return Graph(v, e)


def test_random_walks_follow_edges(walk_graph):
    walks = walk_graph.random_walks(walk_length=5, walks_per_node=3,
                                    seed=7).collect()
    edges = {(0, 1), (1, 2), (2, 3), (3, 0), (1, 9)}
    assert len(walks) == 5 * 3
    for r in walks:
        p = r["path"]
        assert p[0] == r["start_id"]
        assert r["walk_len"] == len(p)
        for a, b in zip(p, p[1:]):
            assert (a, b) in edges, f"non-edge hop {a}->{b} in {p}"


def test_random_walks_stop_at_sinks(walk_graph):
    walks = walk_graph.random_walks(walk_length=5, walks_per_node=2,
                                    seed=7).collect()
    for r in walks:
        p = r["path"]
        if len(p) < 6:  # ended early → must have hit the sink
            assert p[-1] == 9
        if r["start_id"] == 9:  # sink start: no step possible
            assert p == [9]


def test_random_walks_deterministic_and_seed_sensitive(walk_graph):
    def corpus(seed):
        return sorted(
            (r["start_id"], r["walk_no"], tuple(r["path"]))
            for r in walk_graph.random_walks(
                walk_length=6, walks_per_node=2, seed=seed).collect()
        )

    assert corpus(7) == corpus(7)  # bit-identical rerun
    assert corpus(7) != corpus(8)  # different seed → different corpus


def test_random_walks_visit_all_neighbors_of_a_hub(spark):
    """Star 0→{1..6}: across many 1-step walks from 0, every neighbor
    must appear — the uniform-choice hash must not collapse."""
    v = spark.createDataFrame([(i,) for i in range(7)], ["id"])
    e = spark.createDataFrame([(0, i) for i in range(1, 7)], ["src", "dst"])
    g = Graph(v, e)
    walks = g.random_walks(walk_length=1, walks_per_node=40, seed=3)
    seen = {
        r["path"][1] for r in walks.collect() if r["start_id"] == 0
    }
    assert seen == set(range(1, 7))


def test_random_walks_max_degree_cap_still_valid(spark):
    v = spark.createDataFrame([(i,) for i in range(9)], ["id"])
    e = spark.createDataFrame([(0, i) for i in range(1, 9)], ["src", "dst"])
    g = Graph(v, e)
    walks = g.random_walks(walk_length=1, walks_per_node=30, seed=1,
                           max_degree=3).collect()
    nexts = {r["path"][1] for r in walks if r["start_id"] == 0}
    # capped: at most 3 distinct neighbors ever chosen, all real edges
    assert 1 <= len(nexts) <= 3
    assert nexts <= set(range(1, 9))


def test_random_walks_rejects_bad_params(walk_graph):
    with pytest.raises(ValueError):
        walk_graph.random_walks(walk_length=0)
    with pytest.raises(ValueError):
        walk_graph.random_walks(walks_per_node=0)


# -- k-truss ------------------------------------------------------------------


def _ktruss_edges(g, k):
    return sorted((r["u"], r["v"]) for r in g.ktruss(k).collect())


def test_ktruss_k4_keeps_clique(spark):
    v = spark.createDataFrame([(i,) for i in range(1, 5)], ["id"])
    e = spark.createDataFrame(
        [(a, b) for a in range(1, 5) for b in range(a + 1, 5)],
        ["src", "dst"])
    g = Graph(v, e)
    out = g.ktruss(4).collect()
    assert sorted((r["u"], r["v"]) for r in out) == sorted(
        (a, b) for a in range(1, 5) for b in range(a + 1, 5))
    assert all(r["support"] == 2 for r in out)  # K4: every edge in 2 tris
    assert _ktruss_edges(g, 5) == []


def test_ktruss_drops_bridge_between_cliques(spark):
    k4a = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
    k4b = [(a, b) for a in (5, 6, 7, 8) for b in (5, 6, 7, 8) if a < b]
    e = spark.createDataFrame(k4a + k4b + [(4, 5)], ["src", "dst"])
    v = spark.createDataFrame([(i,) for i in range(1, 9)], ["id"])
    got = _ktruss_edges(Graph(v, e), 3)
    assert got == sorted(k4a + k4b)  # bridge (4,5) has support 0


def test_ktruss_peeling_cascades(spark):
    """K5 minus edge (4,5): 5-truss must cascade to EMPTY — dropping
    the degree-poor edges lowers the {1,2,3} supports below threshold
    on the NEXT iteration, which a single-pass filter would miss."""
    e = spark.createDataFrame(
        [(a, b) for a in range(1, 6) for b in range(a + 1, 6)
         if (a, b) != (4, 5)], ["src", "dst"])
    v = spark.createDataFrame([(i,) for i in range(1, 6)], ["id"])
    g = Graph(v, e)
    assert len(_ktruss_edges(g, 4)) == 9   # whole K5−e survives k=4
    assert _ktruss_edges(g, 5) == []       # k=5 cascades to empty


def test_ktruss_k2_is_identity_and_rejects_k1(spark, chain):
    got = _ktruss_edges(chain, 2)
    assert got == sorted([(1, 2), (2, 3), (3, 4), (2, 5)])
    import pytest as _pt
    with _pt.raises(ValueError):
        chain.ktruss(1)


def _g(spark, edges, n_vertices=None):
    ids = {x for e in edges for x in e}
    if n_vertices:
        ids |= set(range(1, n_vertices + 1))
    v = spark.createDataFrame([(i,) for i in sorted(ids)], ["id"])
    e = spark.createDataFrame(list(edges), ["src", "dst"])
    return Graph(v, e)


def _coreness(g):
    return {r["id"]: r["coreness"] for r in g.coreness().collect()}


def test_coreness_clique(spark):
    # K5: every vertex has core number 4
    edges = [(i, j) for i in range(1, 6) for j in range(1, 6) if i < j]
    assert _coreness(_g(spark, edges)) == {i: 4 for i in range(1, 6)}


def test_coreness_path_star_cycle(spark):
    # path: all 1; star: all 1; cycle: all 2
    assert _coreness(_g(spark, [(1, 2), (2, 3), (3, 4)])) == {
        1: 1, 2: 1, 3: 1, 4: 1}
    assert _coreness(_g(spark, [(1, i) for i in range(2, 7)])) == {
        i: 1 for i in range(1, 7)}
    assert _coreness(_g(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])) == {
        1: 2, 2: 2, 3: 2, 4: 2}


def test_coreness_bridged_clique_and_isolated(spark):
    # K4 bridged to a path tail; vertex 9 isolated (declared, no edges)
    k4 = [(i, j) for i in range(1, 5) for j in range(1, 5) if i < j]
    edges = k4 + [(4, 5), (5, 6)]
    got = _coreness(_g(spark, edges, n_vertices=9))
    assert got[1] == got[2] == got[3] == got[4] == 3
    assert got[5] == got[6] == 1
    assert got[7] == got[8] == got[9] == 0


def test_coreness_consistent_with_k_core(spark):
    # {v : coreness >= k} == k_core(k) vertex set, for every k present
    edges = ([(i, j) for i in range(1, 6) for j in range(1, 6) if i < j]
             + [(5, 6), (6, 7), (7, 5), (7, 8), (8, 9)])
    g = _g(spark, edges)
    core = _coreness(g)
    for k in (1, 2, 3, 4):
        via_coreness = {v for v, c in core.items() if c >= k}
        via_kcore = {r["id"] for r in g.k_core(k).collect()}
        assert via_coreness == via_kcore, k


def _networkx_coreness(g):
    import networkx as nx

    ref = nx.Graph()
    ref.add_nodes_from(r["id"] for r in g.vertices.collect())
    ref.add_edges_from((r["src"], r["dst"]) for r in g.edges.collect()
                       if r["src"] != r["dst"])
    return nx.core_number(ref)


def test_coreness_equals_networkx_on_small_graphs(spark):
    shapes = [
        [(i, j) for i in range(1, 6) for j in range(1, 6) if i < j],  # K5
        [(1, 2), (2, 3), (3, 4)],                                     # path
        [(1, 2), (2, 3), (3, 4), (4, 1)],                             # cycle
        ([(i, j) for i in range(1, 5) for j in range(1, 5) if i < j]
         + [(4, 5), (5, 6)]),                                         # K4+tail
    ]
    for edges in shapes:
        g = _g(spark, edges)
        assert _coreness(g) == _networkx_coreness(g), edges


def test_coreness_equals_networkx_on_fixture_graph(spark):
    import __spark_entry__ as em
    from tests.conftest import SF_DIR

    g = em._order_graph(spark, SF_DIR)
    assert _coreness(g) == _networkx_coreness(g)


def test_coreness_raises_when_max_iter_ends_before_the_fixpoint(spark):
    # K4 plus a tail: the first superstep lowers vertex 4 (degree 4,
    # coreness 3) and vertex 5 (degree 2, coreness 1); the second
    # lowers nothing
    k4 = [(i, j) for i in range(1, 5) for j in range(1, 5) if i < j]
    g = _g(spark, k4 + [(4, 5), (5, 6)])
    with pytest.raises(RuntimeError, match="max_iter=1"):
        g.coreness(max_iter=1)
    assert {r["id"]: r["coreness"]
            for r in g.coreness(max_iter=2).collect()} == {
        1: 3, 2: 3, 3: 3, 4: 3, 5: 1, 6: 1}


def test_ktruss_local_finish_equals_distributed(spark):
    # bridged cliques + a cascade tail: force BOTH paths and compare
    k5a = [(i, j) for i in range(1, 6) for j in range(1, 6) if i < j]
    k5b = [(i, j) for i in range(6, 11) for j in range(6, 11) if i < j]
    edges = k5a + k5b + [(5, 6), (1, 11), (11, 12)]
    g = _g(spark, edges)
    local = {(r["u"], r["v"]): r["support"]
             for r in g.ktruss(4).collect()}            # gate: local
    dist = {(r["u"], r["v"]): r["support"]
            for r in g.ktruss(4, local_finish_edges=0).collect()}
    assert local == dist
    assert set(local) == {(u, v) for u, v in k5a + k5b}  # bridges gone


# -- node2vec biased walks ----------------------------------------------------


def test_node2vec_pq1_reduces_to_random_walks(walk_graph):
    """p=q=1 must short-circuit to EXACTLY the uniform sampler —
    the corpus is bit-identical to random_walks at the same seed."""
    def corpus(df):
        return sorted(
            (r["start_id"], r["walk_no"], tuple(r["path"]))
            for r in df.collect()
        )

    uni = corpus(walk_graph.random_walks(
        walk_length=5, walks_per_node=3, seed=7))
    n2v = corpus(walk_graph.node2vec_walks(
        walk_length=5, walks_per_node=3, seed=7, p=1.0, q=1.0))
    assert uni == n2v


def test_node2vec_walks_follow_edges_and_stop_at_sinks(walk_graph):
    walks = walk_graph.node2vec_walks(
        walk_length=5, walks_per_node=3, seed=11, p=0.5, q=2.0
    ).collect()
    edges = {(0, 1), (1, 2), (2, 3), (3, 0), (1, 9)}
    assert len(walks) == 5 * 3
    for r in walks:
        p = r["path"]
        assert p[0] == r["start_id"]
        assert r["walk_len"] == len(p)
        for a, b in zip(p, p[1:]):
            assert (a, b) in edges, f"non-edge hop {a}->{b} in {p}"
        if len(p) < 6:
            assert p[-1] == 9  # early stop only at the sink


def test_node2vec_deterministic_and_seed_sensitive(walk_graph):
    def corpus(seed):
        return sorted(
            (r["start_id"], r["walk_no"], tuple(r["path"]))
            for r in walk_graph.node2vec_walks(
                walk_length=6, walks_per_node=2, seed=seed,
                p=0.25, q=4.0).collect()
        )

    assert corpus(7) == corpus(7)
    assert corpus(7) != corpus(8)


def _backtrack_fraction(g, p, q, seed=5):
    """Fraction of steps (past the first) that return to the node two
    positions back — the statistic the p parameter controls."""
    back = total = 0
    for r in g.node2vec_walks(walk_length=8, walks_per_node=8,
                              seed=seed, p=p, q=q).collect():
        path = r["path"]
        for i in range(2, len(path)):
            total += 1
            back += path[i] == path[i - 2]
    return back / max(total, 1)


def test_node2vec_p_controls_backtracking(spark):
    """Symmetrized path 0-1-2-3-4-5: tiny p (return weight 1/p = 100)
    must backtrack far more often than huge p (return weight 0.01)."""
    g, _, _ = _sym_graph(spark, [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5)])
    low_p = _backtrack_fraction(g, p=0.01, q=1.0)
    high_p = _backtrack_fraction(g, p=100.0, q=1.0)
    assert low_p > 0.7, low_p
    assert high_p < 0.3, high_p
    assert low_p > high_p + 0.4


def test_node2vec_q_controls_outwardness(spark):
    """Lollipop: triangle {0,1,2} with a tail 2-3-4-5. From inside the
    triangle, small q (outward weight 1/q large) should push walks out
    to the tail end more often than large q (which keeps walks local:
    distance-1 moves stay inside the triangle)."""
    g, _, _ = _sym_graph(
        spark, [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5)])

    def tail_hits(q):
        hits = 0
        for r in g.node2vec_walks(walk_length=6, walks_per_node=10,
                                  seed=9, p=1.0, q=q).collect():
            if r["start_id"] in (0, 1) and 5 in r["path"]:
                hits += 1
        return hits

    assert tail_hits(0.1) > tail_hits(10.0)


def test_node2vec_rejects_bad_params(walk_graph):
    with pytest.raises(ValueError):
        walk_graph.node2vec_walks(walk_length=0)
    with pytest.raises(ValueError):
        walk_graph.node2vec_walks(p=0.0)
    with pytest.raises(ValueError):
        walk_graph.node2vec_walks(q=-1.0)
