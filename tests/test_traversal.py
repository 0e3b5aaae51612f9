"""Traversal & analytics tests with pure-Python oracles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphdb_neo4j_spark.operators.traversal import (
    bfs,
    connected_components,
    pagerank,
    shortest_path_bidirectional,
)

EDGES = [
    ("a", "b"), ("b", "c"), ("c", "d"), ("a", "e"),
    ("x", "y"),  # second component
    ("d", "a"),  # cycle back
]


def py_bfs(edges, sources, directed=True):
    adj: dict[str, set[str]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        if not directed:
            adj.setdefault(d, set()).add(s)
    dist = {s: 0 for s in sources}
    frontier = set(sources)
    hop = 0
    while frontier:
        hop += 1
        nxt = set()
        for n in frontier:
            for m in adj.get(n, ()):
                if m not in dist:
                    dist[m] = hop
                    nxt.add(m)
        frontier = nxt
    return dist


@pytest.fixture(scope="module")
def edges_df(spark):
    return spark.createDataFrame(EDGES, ["src", "dst"])


def test_bfs_matches_python_oracle(spark, edges_df):
    sources = spark.createDataFrame([("a",)], ["key"])
    got = {r.key: r.dist for r in bfs(edges_df, sources).collect()}
    assert got == py_bfs(EDGES, ["a"])


def test_bfs_undirected(spark, edges_df):
    sources = spark.createDataFrame([("y",)], ["key"])
    got = {r.key: r.dist for r in bfs(edges_df, sources, directed=False).collect()}
    assert got == py_bfs(EDGES, ["y"], directed=False)


def test_bfs_max_hops(spark, edges_df):
    sources = spark.createDataFrame([("a",)], ["key"])
    got = {r.key: r.dist for r in bfs(edges_df, sources, max_hops=1).collect()}
    assert got == {"a": 0, "b": 1, "e": 1}


def test_connected_components(spark, edges_df):
    nodes = spark.createDataFrame(
        [(k,) for k in ["a", "b", "c", "d", "e", "x", "y", "lonely"]], ["key"]
    )
    comp = {r.key: r.component for r in connected_components(nodes, edges_df).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == comp["d"] == comp["e"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert comp["lonely"] == "lonely"


def test_pagerank_sums_and_ranks(spark):
    # star: everyone points at hub → hub has max rank
    edges = spark.createDataFrame(
        [("s1", "hub"), ("s2", "hub"), ("s3", "hub"), ("hub", "s1")],
        ["src", "dst"],
    )
    ranks = {r.key: r.rank for r in pagerank(edges, iterations=15).collect()}
    assert max(ranks, key=ranks.get) == "hub"
    # spokes that receive nothing sit at the base rank (1 - d)
    assert ranks["s2"] == pytest.approx(0.15)


def test_triangle_count(spark):
    from graphdb_neo4j_spark.operators.traversal import triangle_count

    # K4 has 4 triangles; plus a dangling edge adds none
    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    edges = spark.createDataFrame(k4 + [("d", "e")], ["src", "dst"])
    assert triangle_count(edges) == 4
    # direction-insensitive: reversing edges changes nothing
    rev = spark.createDataFrame([(b, a) for a, b in k4], ["src", "dst"])
    assert triangle_count(rev) == 4


def test_label_propagation_two_cliques(spark):
    from graphdb_neo4j_spark.operators.traversal import label_propagation

    clique1 = [(a, b) for a in "abc" for b in "abc" if a < b]
    clique2 = [(a, b) for a in "xyz" for b in "xyz" if a < b]
    edges = spark.createDataFrame(clique1 + clique2 + [("c", "x")], ["src", "dst"])
    nodes = spark.createDataFrame([(k,) for k in "abcxyz"], ["key"])
    labels = {r.key: r.label for r in label_propagation(nodes, edges, 8).collect()}
    # the two cliques end up internally consistent
    assert len({labels[k] for k in "ab"}) == 1
    assert len({labels[k] for k in "yz"}) == 1


def py_scc(edges, nodes):
    """Iterative Tarjan — ground-truth SCC partition."""
    adj: dict[str, list[str]] = {n: [] for n in nodes}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
        adj.setdefault(d, [])
    index_of: dict[str, int] = {}
    low: dict[str, int] = {}
    on_stack: set[str] = set()
    stack: list[str] = []
    sccs: list[set[str]] = []
    counter = [0]

    def strongconnect(v0):
        work = [(v0, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                index_of[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index_of:
                    work.append((v, i + 1))
                    work.append((w, 0))
                    recurse = True
                    break
                elif w in on_stack:
                    low[v] = min(low[v], index_of[w])
            if not recurse:
                if low[v] == index_of[v]:
                    comp = set()
                    while True:
                        w = stack.pop()
                        on_stack.discard(w)
                        comp.add(w)
                        if w == v:
                            break
                    sccs.append(comp)
                if work:
                    parent = work[-1][0]
                    low[parent] = min(low[parent], low[v])

    for n in sorted(adj):
        if n not in index_of:
            strongconnect(n)
    return {frozenset(c) for c in sccs}


def test_scc_matches_tarjan(spark):
    from graphdb_neo4j_spark.operators.traversal import (
        strongly_connected_components,
    )

    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),      # 3-cycle
        ("c", "d"), ("d", "e"), ("e", "d"),      # 2-cycle downstream
        ("e", "f"),                                # tail
        ("g", "g"),                                # self-loop
        ("h", "i"),                                # DAG pair
    ]
    nodes = sorted({x for e in edges for x in e})
    ndf = spark.createDataFrame([(n,) for n in nodes], ["key"])
    edf = spark.createDataFrame(edges, ["src", "dst"])
    out = strongly_connected_components(ndf, edf).collect()
    got: dict[str, set[str]] = {}
    for r in out:
        got.setdefault(r.component, set()).add(r.key)
    assert {frozenset(c) for c in got.values()} == py_scc(edges, nodes)
    # component id is the min member, every node assigned exactly once
    assert all(comp == min(members) for comp, members in got.items())
    assert sum(len(m) for m in got.values()) == len(nodes)


def py_brandes(edges, nodes, pivots, directed=True):
    adj: dict[str, list[str]] = {n: [] for n in nodes}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
        if not directed:
            adj.setdefault(d, []).append(s)
        adj.setdefault(d, [])
    bc = {n: 0.0 for n in nodes}
    for s in pivots:
        # BFS
        dist = {s: 0}
        sigma = {s: 1.0}
        order = [s]
        frontier = [s]
        while frontier:
            nxt = []
            for v in frontier:
                for w in adj[v]:
                    if w not in dist:
                        dist[w] = dist[v] + 1
                        sigma[w] = 0.0
                        nxt.append(w)
                        order.append(w)
            for v in frontier:
                for w in adj[v]:
                    if dist.get(w) == dist[v] + 1:
                        sigma[w] += sigma[v]
            frontier = nxt
        delta = {v: 0.0 for v in order}
        # dependency accumulation over predecessors
        preds: dict[str, list[str]] = {v: [] for v in order}
        for v in order:
            for w in adj[v]:
                if dist.get(w) == dist[v] + 1:
                    preds[w].append(v)
        for w in reversed(order):
            for v in preds[w]:
                delta[v] += (sigma[v] / sigma[w]) * (1.0 + delta[w])
            if w != s:
                bc[w] += delta[w]
    scale = len(nodes) / max(len(pivots), 1)
    return {n: bc[n] * scale for n in nodes}


def test_betweenness_approx_matches_python(spark):
    import hashlib

    from graphdb_neo4j_spark.operators.traversal import betweenness_approx

    edges = [
        ("a", "b"), ("b", "c"), ("c", "d"),
        ("a", "e"), ("e", "d"),
        ("d", "f"), ("f", "g"),
        ("b", "e"),
    ]
    nodes = sorted({x for e in edges for x in e})
    ndf = spark.createDataFrame([(n,) for n in nodes], ["key"])
    edf = spark.createDataFrame(edges, ["src", "dst"])
    k = 4
    out = {r.key: r.betweenness for r in
           betweenness_approx(ndf, edf, n_samples=k).collect()}
    pivots = sorted(nodes, key=lambda n: hashlib.md5(n.encode()).hexdigest())[:k]
    expect = py_brandes(edges, nodes, pivots)
    assert set(out) == set(expect)
    for n in nodes:
        assert out[n] == pytest.approx(expect[n], abs=1e-9), n


def test_k_core_matches_python(spark):
    from graphdb_neo4j_spark.operators.traversal import k_core

    edges = [
        # a 4-clique (3-core)
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
        # a tail hanging off it
        ("d", "e"), ("e", "f"),
        # a triangle (2-core)
        ("x", "y"), ("y", "z"), ("z", "x"),
    ]
    nodes = sorted({v for e in edges for v in e})

    def py_kcore(k):
        adj = {n: set() for n in nodes}
        for s, d in edges:
            adj[s].add(d); adj[d].add(s)
        alive = set(nodes)
        while True:
            low = {n for n in alive if len(adj[n] & alive) < k}
            if not low:
                return alive
            alive -= low

    ndf = spark.createDataFrame([(n,) for n in nodes], ["key"])
    edf = spark.createDataFrame(edges, ["src", "dst"])
    for k in (1, 2, 3, 4):
        got = {r.key for r in k_core(ndf, edf, k).collect()}
        assert got == py_kcore(k), f"k={k}"


def test_twophase_components_match_hashmin(spark):
    """Large-star/small-star equals HashMin on a branchy graph AND
    converges on a 200-node chain where HashMin's O(diameter) rounds
    would need 200 iterations."""
    import random

    from graphdb_neo4j_spark.operators.traversal import (
        connected_components,
        connected_components_twophase,
    )

    rng = random.Random(11)
    edges = [(f"n{rng.randrange(60)}", f"n{rng.randrange(60)}") for _ in range(80)]
    nodes = sorted({v for e in edges for v in e} | {"iso1", "iso2"})
    ndf = spark.createDataFrame([(n,) for n in nodes], ["key"])
    edf = spark.createDataFrame(edges, ["src", "dst"])
    hm = {r.key: r.component for r in connected_components(ndf, edf, 100).collect()}
    tp = {r.key: r.component for r in
          connected_components_twophase(ndf, edf).collect()}
    assert tp == hm

    # long chain: c000 - c001 - ... - c199 (diameter 199)
    chain = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(199)]
    cn = spark.createDataFrame([(f"c{i:03d}",) for i in range(200)], ["key"])
    ce = spark.createDataFrame(chain, ["src", "dst"])
    got = {r.key: r.component for r in
           connected_components_twophase(cn, ce, max_iter=15).collect()}
    assert set(got.values()) == {"c000"}  # one component, min root


# ---------------------------------------------------------------------------
# personalized PageRank / weighted SSSP / k-truss oracles
# ---------------------------------------------------------------------------

def py_ppr(edges, sources, iterations=10, d=0.85):
    verts = sorted({v for e in edges for v in e})
    out_deg: dict[str, int] = {}
    for s, _ in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
    restart = {v: (1.0 / len(sources) if v in sources else 0.0) for v in verts}
    rank = dict(restart)
    for _ in range(iterations):
        contrib: dict[str, float] = {}
        for s, t in edges:
            contrib[t] = contrib.get(t, 0.0) + rank[s] / out_deg[s]
        rank = {
            v: (1 - d) * restart[v] + d * contrib.get(v, 0.0) for v in verts
        }
    return rank


def test_personalized_pagerank_matches_python(spark, edges_df):
    from graphdb_neo4j_spark.operators.traversal import personalized_pagerank

    sources = spark.createDataFrame([("a",), ("x",)], ["key"])
    got = {
        r.key: r.rank
        for r in personalized_pagerank(edges_df, sources, iterations=10).collect()
    }
    want = py_ppr(EDGES, {"a", "x"})
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-12), k
    # restart mass only at sources: nodes unreachable FROM sources get 0
    # (none here), and sources keep (1-d)*restart even with no in-edges
    assert got["x"] >= (1 - 0.85) * 0.5 - 1e-12


def test_personalized_pagerank_duplicate_sources(spark, edges_df):
    """Duplicate source rows must not deflate the restart vector:
    restart(v) = 1/|distinct S|, so ranks are identical to the
    deduplicated source set (ADVICE r2, traversal.py personalized_pagerank)."""
    from graphdb_neo4j_spark.operators.traversal import personalized_pagerank

    dup = spark.createDataFrame([("a",), ("a",), ("x",), ("a",)], ["key"])
    got = {
        r.key: r.rank
        for r in personalized_pagerank(edges_df, dup, iterations=10).collect()
    }
    want = py_ppr(EDGES, {"a", "x"})
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-12), k


def py_dijkstra(edges, source, directed=False):
    import heapq

    adj: dict[str, list[tuple[str, float]]] = {}
    for s, t, w in edges:
        adj.setdefault(s, []).append((t, w))
        if not directed:
            adj.setdefault(t, []).append((s, w))
    dist = {source: 0.0}
    pq = [(0.0, source)]
    while pq:
        du, u = heapq.heappop(pq)
        if du > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, ()):
            nd = du + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    return dist


WEDGES = [
    ("a", "b", 1.0), ("b", "c", 2.0), ("a", "c", 10.0), ("c", "d", 1.0),
    ("a", "d", 3.5), ("d", "e", 0.5), ("x", "y", 7.0),
]


def test_sssp_weighted_matches_dijkstra(spark):
    from graphdb_neo4j_spark.operators.traversal import sssp_weighted

    edges = spark.createDataFrame(WEDGES, ["src", "dst", "w"])
    sources = spark.createDataFrame([("a",)], ["key"])
    got = {r.key: r.dist for r in sssp_weighted(edges, sources, directed=False).collect()}
    want = py_dijkstra(WEDGES, "a")
    assert got == want  # exact doubles: same sums of the same literals
    # x/y unreachable -> absent
    assert "x" not in got and "y" not in got


def test_sssp_weighted_rejects_negative(spark):
    from graphdb_neo4j_spark.operators.traversal import sssp_weighted

    edges = spark.createDataFrame([("a", "b", -1.0)], ["src", "dst", "w"])
    sources = spark.createDataFrame([("a",)], ["key"])
    with pytest.raises(ValueError):
        sssp_weighted(edges, sources)


def py_ktruss(edges, k):
    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        adj: dict[str, set[str]] = {}
        for u, v in es:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        support = {
            (u, v): len(adj[u] & adj[v]) for u, v in es
        }
        drop = {e for e, s in support.items() if s < k - 2}
        if not drop:
            return es
        es -= drop


def test_k_truss_matches_python(spark):
    from graphdb_neo4j_spark.operators.traversal import k_truss

    # two 4-cliques sharing vertex m, plus a tail that must peel away
    k4a = [("a", "b"), ("a", "c"), ("a", "m"), ("b", "c"), ("b", "m"), ("c", "m")]
    k4b = [("p", "q"), ("p", "r"), ("p", "m"), ("q", "r"), ("q", "m"), ("r", "m")]
    tail = [("m", "t1"), ("t1", "t2"), ("t2", "a")]
    all_edges = k4a + k4b + tail
    edges = spark.createDataFrame(all_edges, ["src", "dst"])
    got = {(r.src, r.dst) for r in k_truss(edges, k=4).collect()}
    want = py_ktruss(all_edges, 4)
    assert got == want
    assert got == set(map(tuple, map(sorted, k4a + k4b)))  # tail peeled


def test_k_truss_k3_keeps_all_triangles(spark):
    from graphdb_neo4j_spark.operators.traversal import k_truss

    tri = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    edges = spark.createDataFrame(tri, ["src", "dst"])
    got = {(r.src, r.dst) for r in k_truss(edges, k=3).collect()}
    assert got == {("a", "b"), ("b", "c"), ("a", "c")}


def py_temporal_bfs(edges, sources):
    # earliest-arrival fixpoint over time-respecting paths
    arrive = {s: float("-inf") for s in sources}
    changed = True
    while changed:
        changed = False
        for s, d, t in edges:
            if s in arrive and t >= arrive[s] and t < arrive.get(d, float("inf")):
                arrive[d] = t
                changed = True
    return arrive


def test_temporal_bfs_respects_time(spark):
    from graphdb_neo4j_spark.operators.traversal import temporal_bfs

    # a->b fires at t=10, b->c at t=5: c is NOT reachable through b
    # (the b->c edge fired before we arrived at b); d is (t=20 >= 10)
    tedges = [
        ("a", "b", 10), ("b", "c", 5), ("b", "d", 20),
        ("d", "e", 20),  # equal times allowed (non-decreasing)
        ("e", "a", 1),   # stale back-edge, must not fire
    ]
    edges = spark.createDataFrame(tedges, ["src", "dst", "t"])
    sources = spark.createDataFrame([("a",)], ["key"])
    got = {r.key: r.earliest for r in temporal_bfs(edges, sources).collect()}
    want = py_temporal_bfs(tedges, {"a"})
    assert set(got) == set(want)
    for k, v in want.items():
        if v == float("-inf"):
            assert got[k] == -(1 << 62)
        else:
            assert got[k] == v
    assert "c" not in got  # plain BFS would have reached it


def test_temporal_bfs_earlier_arrival_reopens_paths(spark):
    from graphdb_neo4j_spark.operators.traversal import temporal_bfs

    # first discovery of m arrives at t=30 (too late for m->z at 25);
    # a longer path arrives at t=20 and unlocks it -> relaxation must
    # re-expand m when its arrival improves
    tedges = [
        ("s", "m", 30),
        ("s", "x", 10), ("x", "y", 15), ("y", "m", 20),
        ("m", "z", 25),
    ]
    edges = spark.createDataFrame(tedges, ["src", "dst", "t"])
    sources = spark.createDataFrame([("s",)], ["key"])
    got = {r.key: r.earliest for r in temporal_bfs(edges, sources).collect()}
    want = py_temporal_bfs(tedges, {"s"})
    assert {k: v for k, v in got.items() if k != "s"} == \
        {k: v for k, v in want.items() if k != "s"}
    assert got["z"] == 25


def test_closeness_approx_matches_python(spark, edges_df):
    """With n_samples >= |V| every vertex is a pivot, so the sampled
    estimate equals the exact harmonic closeness (scale = 1)."""
    import hashlib

    from graphdb_neo4j_spark.operators.traversal import closeness_approx

    verts = sorted({v for e in EDGES for v in e})
    nodes = spark.createDataFrame([(v,) for v in verts], ["key"])
    got = {
        r.key: r.closeness
        for r in closeness_approx(nodes, edges_df, n_samples=len(verts)).collect()
    }
    # python oracle: pivots = all vertices (md5 order irrelevant at full
    # sample), closeness(v) = sum over sources s of 1/dist(s,v)
    want = {}
    for v in verts:
        total = 0.0
        for s in verts:
            d = py_bfs(EDGES, {s}).get(v)
            if d and d > 0:
                total += 1.0 / d
        want[v] = total
    # accumulate in the same per-pivot order Spark used (md5 ascending)
    order = sorted(verts, key=lambda k: hashlib.md5(k.encode()).hexdigest())
    want2 = {}
    for v in verts:
        t = 0.0
        for s in order:
            d = py_bfs(EDGES, {s}).get(v)
            if d and d > 0:
                t += 1.0 / d
        want2[v] = t
    assert set(got) == set(want)
    for k in got:
        assert got[k] == pytest.approx(want2[k], abs=1e-9), k


def py_pagerank_weighted(edges, iterations=10, d=0.85):
    verts = sorted({v for s, t, _ in edges for v in (s, t)})
    out_w: dict[str, float] = {}
    for s, _, w in edges:
        out_w[s] = out_w.get(s, 0.0) + w
    rank = {v: 1.0 for v in verts}
    for _ in range(iterations):
        contrib: dict[str, float] = {}
        for s, t, w in edges:
            contrib[t] = contrib.get(t, 0.0) + rank[s] * (w / out_w[s])
        rank = {v: (1 - d) + d * contrib.get(v, 0.0) for v in verts}
    return rank


def test_pagerank_weighted_matches_python(spark):
    from graphdb_neo4j_spark.operators.traversal import pagerank_weighted

    wedges = [
        ("a", "b", 3.0), ("a", "c", 1.0), ("b", "c", 2.0),
        ("c", "a", 1.0), ("c", "b", 1.0),
    ]
    edges = spark.createDataFrame(wedges, ["src", "dst", "w"])
    got = {r.key: r.rank for r in pagerank_weighted(edges, iterations=10).collect()}
    want = py_pagerank_weighted(wedges)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9), k
    # b gets 3x a's mass vs c's 1x: with equal damping, b outranks c's
    # share from a — weighted split actually happened
    uw = {r.key: r.rank for r in pagerank_weighted(
        edges.withColumn("w", F.lit(1.0)), iterations=10).collect()}
    assert got["b"] > uw["b"]


def test_densest_subgraph_finds_planted_clique(spark):
    from graphdb_neo4j_spark.operators.traversal import densest_subgraph

    # planted K6 (density 15/6 = 2.5) + a long sparse path (density ~1)
    clique = [(f"k{i}", f"k{j}") for i in range(6) for j in range(i + 1, 6)]
    path = [(f"p{i}", f"p{i+1}") for i in range(30)] + [("p0", "k0")]
    edges = spark.createDataFrame(clique + path, ["src", "dst"])
    verts, density = densest_subgraph(edges, epsilon=0.05)
    got = {r.key for r in verts.collect()}
    # 2(1+eps)-approx guarantee: density >= OPT/2(1+eps); OPT >= 2.5
    assert density >= 2.5 / (2 * 1.05) - 1e-9
    # the clique survives peeling (sparse path peels away first)
    assert {f"k{i}" for i in range(6)} <= got
    assert density > 1.2


def test_densest_subgraph_empty(spark):
    from graphdb_neo4j_spark.operators.traversal import densest_subgraph

    edges = spark.createDataFrame([], "src string, dst string")
    verts, density = densest_subgraph(edges)
    assert verts.count() == 0 and density == 0.0


# ---------------------------------------------------------------------------
# path reconstruction: bfs_tree / bfs_paths / shortest_path_bidirectional
# / sssp_weighted_paths — NetworkX oracles + structural validity
# ---------------------------------------------------------------------------


def test_shortest_path_reconstruction(spark, edges_df):
    # EDGES: a->b->c->d, a->e, d->a cycle; x->y separate
    assert shortest_path_bidirectional(edges_df, "a", "d") == ["a", "b", "c", "d"]
    assert shortest_path_bidirectional(edges_df, "d", "b") == ["d", "a", "b"]
    assert shortest_path_bidirectional(edges_df, "a", "x") is None
    assert shortest_path_bidirectional(edges_df, "a", "a") == ["a"]


def test_bfs_paths_valid_and_deterministic(spark):
    """Every path starts at a source, steps along real edges, has
    length dist+1 — and the min-predecessor tie-break makes the chosen
    path the lexicographically-least parent chain."""
    from graphdb_neo4j_spark.operators.traversal import bfs_paths

    # diamond with two equal-length routes a->b->d / a->c->d
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e")],
        ["src", "dst"],
    )
    sources = spark.createDataFrame([("a",)], ["key"])
    rows = {r.key: (r.dist, list(r.path)) for r in bfs_paths(edges, sources).collect()}
    eset = {("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e")}
    for k, (dist, path) in rows.items():
        assert path[0] == "a" and path[-1] == k and len(path) == dist + 1
        assert all((u, v) in eset for u, v in zip(path, path[1:]))
    # deterministic tie-break: d's parent is min(b, c) = b
    assert rows["d"][1] == ["a", "b", "d"]
    assert rows["e"][1] == ["a", "b", "d", "e"]


def test_bfs_paths_matches_networkx(spark):
    networkx = pytest.importorskip("networkx")

    rng_edges = [
        (f"n{(7 * i + 3) % 40}", f"n{(11 * i + 5) % 40}") for i in range(120)
    ]
    rng_edges = [(u, v) for u, v in rng_edges if u != v]
    g = networkx.DiGraph(rng_edges)
    edges = spark.createDataFrame(rng_edges, ["src", "dst"])
    sources = spark.createDataFrame([("n0",)], ["key"])
    from graphdb_neo4j_spark.operators.traversal import bfs_paths

    got = {r.key: (r.dist, list(r.path)) for r in bfs_paths(edges, sources).collect()}
    want = networkx.single_source_shortest_path_length(g, "n0")
    assert {k: d for k, (d, _) in got.items()} == dict(want)
    eset = set(rng_edges)
    for k, (dist, path) in got.items():
        assert len(path) == dist + 1 and path[0] == "n0" and path[-1] == k
        assert all((u, v) in eset for u, v in zip(path, path[1:]))


def test_sssp_weighted_paths_matches_networkx(spark):
    networkx = pytest.importorskip("networkx")

    from graphdb_neo4j_spark.operators.traversal import sssp_weighted_paths

    edges = spark.createDataFrame(WEDGES, ["src", "dst", "w"])
    sources = spark.createDataFrame([("a",)], ["key"])
    got = {
        r.key: (r.dist, list(r.path))
        for r in sssp_weighted_paths(edges, sources, directed=False).collect()
    }
    g = networkx.Graph()
    g.add_weighted_edges_from(WEDGES)
    want_dist, want_path = networkx.single_source_dijkstra(g, "a")
    assert {k: d for k, (d, _) in got.items()} == {
        k: v for k, v in want_dist.items() if k not in ("x", "y")
    }
    # path validity: edge-by-edge weights sum exactly to dist
    wmap = {}
    for u, v, w in WEDGES:
        wmap[(u, v)] = w
        wmap[(v, u)] = w
    for k, (dist, path) in got.items():
        assert path[0] == "a" and path[-1] == k
        assert sum(wmap[(u, v)] for u, v in zip(path, path[1:])) == dist


def test_sssp_paths_targets_only(spark):
    """targets= restricts which rows materialize a path."""
    from graphdb_neo4j_spark.operators.traversal import bfs_paths

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"]
    )
    sources = spark.createDataFrame([("a",)], ["key"])
    targets = spark.createDataFrame([("d",)], ["key"])
    rows = bfs_paths(edges, sources, targets=targets).collect()
    assert len(rows) == 1
    assert list(rows[0].path) == ["a", "b", "c", "d"]


def test_backtrace_doubling_equals_step(spark):
    """Pointer-doubling backtrace returns exactly the step backtrace's
    paths on a deep chain + branches (log rounds vs linear is plan-level
    only)."""
    from graphdb_neo4j_spark.operators.traversal import (
        _backtrace_paths,
        _backtrace_paths_doubling,
        bfs_tree,
    )

    chain = [(f"n{i}", f"n{i+1}") for i in range(40)]
    branches = [(f"n{i}", f"m{i}") for i in range(0, 40, 7)]
    edges = spark.createDataFrame(chain + branches, ["src", "dst"])
    sources = spark.createDataFrame([("n0",)], ["key"])
    tree = bfs_tree(edges, sources)
    step = {
        r.key: (r.dist, list(r.path))
        for r in _backtrace_paths(tree)[0].collect()
    }
    dbl = {
        r.key: (r.dist, list(r.path))
        for r in _backtrace_paths_doubling(tree)[0].collect()
    }
    assert dbl == step
    assert dbl["n40"][0] == 40 and len(dbl["n40"][1]) == 41


# ---------------------------------------------------------------------------
# public Pregel / aggregateMessages primitive
# ---------------------------------------------------------------------------


def test_aggregate_messages_degrees(spark, edges_df):
    """Degree counting via one aggregate_messages round equals the
    query layer's degrees()."""
    from graphdb_neo4j_spark.operators.graph import GraphQuery
    from graphdb_neo4j_spark.operators.pregel import aggregate_messages

    verts = (
        edges_df.select(F.col("src").alias("key"))
        .unionByName(edges_df.select(F.col("dst").alias("key")))
        .distinct()
    )
    deg = {
        r.key: r.msg
        for r in aggregate_messages(
            verts, edges_df, to_dst=F.lit(1), to_src=F.lit(1)
        ).collect()
    }
    gq = GraphQuery(
        nodes=verts.select(F.lit("N").alias("label"), "key"),
        edges=edges_df.withColumn("rel", F.lit("E")),
    )
    want = {r.key: r.degree for r in gq.degrees().collect()}
    assert deg == want


def test_pregel_pagerank_equals_operator(spark, edges_df):
    """PageRank written as a USER algorithm on the pregel primitive is
    bit-identical to the built-in operator (same conventions: rank =
    0.15 + 0.85·Σ rank/out_degree, dangling keep base)."""
    from graphdb_neo4j_spark.operators.pregel import pregel
    from graphdb_neo4j_spark.operators.traversal import pagerank

    e = edges_df.select("src", "dst")
    verts = (
        e.select(F.col("src").alias("key"))
        .unionByName(e.select(F.col("dst").alias("key")))
        .distinct()
    )
    out_deg = e.groupBy(F.col("src").alias("key")).agg(
        F.count("*").alias("out_degree")
    )
    state = verts.join(out_deg, "key", "left").select(
        "key",
        F.lit(1.0).alias("rank"),
        F.coalesce(F.col("out_degree"), F.lit(0)).alias("out_degree"),
    )

    def update(s):
        # the same float constants the operator builds (1.0 - 0.85 is
        # NOT the double 0.15 — exact equality needs the same literals)
        return s.select(
            "key",
            (F.lit(1.0 - 0.85)
             + F.lit(0.85) * F.coalesce(F.col("msg"), F.lit(0.0))).alias("rank"),
            "out_degree",
        )

    got = {
        r.key: r.rank
        for r in pregel(
            state, e,
            update=update,
            to_dst=F.col("src_rank") / F.col("src_out_degree"),
            max_iter=10,
        ).collect()
    }
    want = {r.key: r.rank for r in pagerank(edges_df, iterations=10).collect()}
    assert got == want  # exact doubles: same expressions, same order


def test_pregel_components_fixpoint(spark, edges_df):
    """HashMin components as a pregel user algorithm with
    stop_at_fixpoint equals the built-in operator."""
    from graphdb_neo4j_spark.operators.pregel import pregel
    from graphdb_neo4j_spark.operators.traversal import connected_components

    verts = (
        edges_df.select(F.col("src").alias("key"))
        .unionByName(edges_df.select(F.col("dst").alias("key")))
        .distinct()
    )
    state = verts.withColumn("component", F.col("key"))

    def update(s):
        return s.select(
            "key",
            F.least(
                F.col("component"), F.coalesce(F.col("msg"), F.col("component"))
            ).alias("component"),
        )

    got = {
        r.key: r.component
        for r in pregel(
            state, edges_df.select("src", "dst"),
            update=update,
            to_dst=F.col("src_component"),
            to_src=F.col("dst_component"),
            agg=F.min,
            max_iter=30,
            stop_at_fixpoint=True,
        ).collect()
    }
    want = {
        r.key: r.component
        for r in connected_components(verts, edges_df).collect()
    }
    assert got == want


def test_backtrace_deep_chain_beyond_256(spark):
    """Paths deeper than the old fixed round bound (256) must complete,
    not silently vanish (round bounds now derive from the tree)."""
    from graphdb_neo4j_spark.operators.traversal import (
        _backtrace_paths,
        _backtrace_paths_doubling,
    )

    n = 300
    rows = [("n0", 0, None)] + [
        (f"n{i}", i, f"n{i-1}") for i in range(1, n + 1)
    ]
    tree = spark.createDataFrame(rows, "key string, dist int, pred string")
    got = _backtrace_paths_doubling(tree)[0].filter(F.col("key") == f"n{n}").head()
    assert got is not None and len(got["path"]) == n + 1
    assert got["path"][0] == "n0" and got["path"][-1] == f"n{n}"

    targets = spark.createDataFrame([(f"n{n}",)], ["key"])
    got2 = _backtrace_paths(tree, targets=targets)[0].head()
    assert got2 is not None and list(got2["path"]) == list(got["path"])


def test_backtrace_doubling_cuts_cycles_without_blowup(spark):
    """A cyclic pred forest (the zero-weight-cycle SSSP case) is cut at
    the log-derived bound — cycle rows are dropped, acyclic rows keep
    exact paths, and segments never grow past O(n)."""
    from graphdb_neo4j_spark.operators.traversal import _backtrace_paths_doubling

    rows = [
        ("r", 0, None), ("a", 1, "r"), ("b", 2, "a"),
        # 3-cycle never reaching a root
        ("x", 5, "z"), ("y", 5, "x"), ("z", 5, "y"),
    ]
    tree = spark.createDataFrame(rows, "key string, dist int, pred string")
    got = {
        r.key: list(r.path) for r in _backtrace_paths_doubling(tree)[0].collect()
    }
    assert got == {"r": ["r"], "a": ["r", "a"], "b": ["r", "a", "b"]}


def test_four_clique_count_known_graphs(spark):
    from graphdb_neo4j_spark.operators.traversal import four_clique_count

    # K5: C(5,4) = 5 four-cliques; edges given in arbitrary orientation
    # with duplicates to exercise canonicalization
    k5 = [(i, j) for i in range(5) for j in range(5) if i != j]
    df = spark.createDataFrame(k5, "src int, dst int")
    assert four_clique_count(df).head().n_4cliques == 5
    # a triangle plus a pendant vertex has none
    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src int, dst int"
    )
    assert four_clique_count(tri).head().n_4cliques == 0


def test_bidirectional_shortest_path_matches_one_sided(spark):
    """Bidirectional hop distances equal networkx's one-sided BFS on a
    random digraph, including an unreachable pair."""
    import random

    networkx = pytest.importorskip("networkx")

    rng = random.Random(11)
    n = 40
    edges = set()
    while len(edges) < 120:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.add((f"n{a}", f"n{b}"))
    df = spark.createDataFrame(sorted(edges), "src string, dst string")
    g = networkx.DiGraph(sorted(edges))
    for s, d in [("n0", "n1"), ("n5", "n17"), ("n3", "n3"), ("n2", "n39")]:
        try:
            one = networkx.shortest_path_length(g, s, d)
        except networkx.NetworkXNoPath:
            one = None
        path = shortest_path_bidirectional(df, s, d)
        bi = None if path is None else len(path) - 1
        assert bi == one, (s, d, one, bi)
    # unreachable pair: an isolated node name never used as a dst
    df2 = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    assert shortest_path_bidirectional(df2, "c", "a") is None
    assert len(shortest_path_bidirectional(df2, "a", "c")) - 1 == 2


def test_bidirectional_path_reconstruction(spark):
    """Spliced bidirectional paths: same length as networkx's one-sided
    BFS, every consecutive pair is a real edge, endpoints pin."""
    import random

    networkx = pytest.importorskip("networkx")

    rng = random.Random(23)
    n = 40
    edges = set()
    while len(edges) < 110:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.add((f"n{a}", f"n{b}"))
    df = spark.createDataFrame(sorted(edges), "src string, dst string")
    g = networkx.DiGraph(sorted(edges))
    eset = edges
    for s, d in [("n0", "n1"), ("n5", "n17"), ("n2", "n39"), ("n7", "n7")]:
        path = shortest_path_bidirectional(df, s, d)
        if not networkx.has_path(g, s, d):
            assert path is None, (s, d, path)
            continue
        one = networkx.shortest_path_length(g, s, d)
        assert path is not None and path[0] == s and path[-1] == d, (s, d, path)
        assert len(path) - 1 == one, (s, d, path, one)
        for a, b in zip(path, path[1:]):
            assert (a, b) in eset, (a, b, path)
    # unreachable + undirected variants
    df2 = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    assert shortest_path_bidirectional(df2, "c", "a") is None
    assert shortest_path_bidirectional(df2, "a", "c") == ["a", "b", "c"]
    assert shortest_path_bidirectional(df2, "c", "a", directed=False) == [
        "c", "b", "a",
    ]
    # max_hops bound cuts long paths
    assert shortest_path_bidirectional(df2, "a", "c", max_hops=1) is None


# ---------------------------------------------------------------------------
# HyperBall neighborhood function
# ---------------------------------------------------------------------------


def _py_bucket_rho(value: str) -> tuple[int, int]:
    """Python replica of sketch.hll_bucket_rho's md5-nibble math."""
    import hashlib

    h = hashlib.md5(value.encode()).hexdigest()
    bucket = int(h[:2], 16)
    tail = h[2:16]
    z = len(tail) - len(tail.lstrip("0"))
    if z == 14:
        rho = 4 * 14 + 1
    else:
        v = int(tail[z], 16)
        extra = 0 if v >= 8 else 1 if v >= 4 else 2 if v >= 2 else 3
        rho = z * 4 + extra + 1
    return bucket, min(rho, 50)


def _py_hyperball(edges, max_iters=24):
    """Exact replica of traversal.hyperball (undirected): per-node
    register dicts, max-merge over neighbours, same integer readouts."""
    import math

    adj: dict[str, set[str]] = {}
    nodes: set[str] = set()
    for s, d in edges:
        nodes |= {s, d}
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    regs = {}
    for n in nodes:
        b, r = _py_bucket_rho(n)
        regs[n] = {b: r}
    m, cap = 256, 50
    alpha = 0.7213 / (1.0 + 1.079 / m)
    num = alpha * m * m * float(1 << cap)

    def readout():
        sum_reg = sum_harm = 0
        est_nf = 0.0
        for n in nodes:
            nb = len(regs[n])
            s_obs = sum(1 << (cap - r) for r in regs[n].values())
            zeros = m - nb
            s_num = s_obs + zeros * (1 << cap)
            raw = num / float(s_num)
            if raw <= 2.5 * m and zeros > 0:
                est = float(m) * math.log(float(m) / zeros)
            else:
                est = raw
            sum_reg += sum(regs[n].values())
            sum_harm += s_num
            est_nf += est
        return {
            "n_nodes": len(nodes),
            "sum_reg": sum_reg,
            "sum_harmonic": sum_harm,
            "est_nf": est_nf,
        }

    out = [{"t": 0, **readout()}]
    for t in range(1, max_iters + 1):
        new = {n: dict(regs[n]) for n in nodes}
        changed = False
        for n in nodes:
            for nb in adj.get(n, ()):
                for b, r in regs[nb].items():
                    if new[n].get(b, 0) < r:
                        new[n][b] = r
                        changed = True
        if not changed:
            break
        regs = new
        out.append({"t": t, **readout()})
    return out


HYPERBALL_EDGES = [
    ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"),
    ("b", "g"), ("g", "h"), ("c", "h"),
    ("p", "q"), ("q", "r"),  # second component
]


def test_hyperball_matches_python_replica(spark):
    from graphdb_neo4j_spark.operators.traversal import hyperball

    e = spark.createDataFrame(HYPERBALL_EDGES, ["src", "dst"])
    got = hyperball(e, max_iters=24, directed=False)
    want = _py_hyperball(HYPERBALL_EDGES, max_iters=24)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        # integer registers are bit-identical; the double estimate only
        # differs by float-sum association order
        assert (g["t"], g["n_nodes"], g["sum_reg"], g["sum_harmonic"]) == (
            w["t"], w["n_nodes"], w["sum_reg"], w["sum_harmonic"],
        )
        assert abs(g["est_nf"] - w["est_nf"]) < 1e-6 * max(1.0, w["est_nf"])


def test_hyperball_tracks_exact_ball_sizes(spark):
    """At m=256 with ≤11 nodes the sketch is in the linear-counting
    regime — estimates land within a few percent of the exact N(t)."""
    from graphdb_neo4j_spark.operators.traversal import (
        effective_diameter,
        hyperball,
    )

    e = spark.createDataFrame(HYPERBALL_EDGES, ["src", "dst"])
    nf = hyperball(e, max_iters=24, directed=False)

    nodes = sorted({n for ed in HYPERBALL_EDGES for n in ed})
    exact = []
    for t in range(len(nf)):
        total = 0
        for n in nodes:
            dist = py_bfs(HYPERBALL_EDGES, [n], directed=False)
            total += sum(1 for d in dist.values() if d <= t)
        exact.append(total)
    for row, want in zip(nf, exact):
        assert abs(row["est_nf"] - want) / want < 0.05
    # converged after the larger component's diameter (4); both
    # components covered
    assert len(nf) - 1 <= 5
    assert effective_diameter(nf) <= len(nf) - 1


def test_hyperball_directed_respects_orientation(spark):
    from graphdb_neo4j_spark.operators.traversal import hyperball

    chain = [("a", "b"), ("b", "c")]
    e = spark.createDataFrame(chain, ["src", "dst"])
    nf = hyperball(e, max_iters=8, directed=True)
    # forward balls: a sees {a,b,c}, b sees {b,c}, c sees {c} → N(∞)=6
    assert abs(nf[-1]["est_nf"] - 6) < 0.5


# ---------------------------------------------------------------------------
# modularity
# ---------------------------------------------------------------------------


def test_modularity_two_triangles(spark):
    """Two triangles joined by a bridge, communities = the triangles:
    Q = 2·(3/7 − (7/14)²) = 5/14 ≈ 0.35714286 (Newman & Girvan)."""
    from graphdb_neo4j_spark.operators.traversal import modularity

    edges = [("a", "b"), ("b", "c"), ("c", "a"),
             ("x", "y"), ("y", "z"), ("z", "x"),
             ("a", "x")]
    e = spark.createDataFrame(edges, ["src", "dst"])
    asg = spark.createDataFrame(
        [(n, "t1") for n in "abc"] + [(n, "t2") for n in "xyz"],
        ["key", "community"],
    )
    rows = {r.community: r for r in modularity(e, asg).collect()}
    assert rows["t1"].internal_edges == 3 and rows["t2"].internal_edges == 3
    assert rows["t1"].degree_sum == 7 and rows["t2"].degree_sum == 7
    q = sum(r.contribution for r in rows.values())
    assert abs(q - 5 / 14) < 1e-7


def test_modularity_single_community_is_zero(spark):
    """All nodes in one community: L=m, D=2m → Q = 1 − 1 = 0, whatever
    the graph.  Duplicate/reversed edges must collapse first."""
    from graphdb_neo4j_spark.operators.traversal import modularity

    edges = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "d"), ("d", "a"),
             ("a", "a")]  # dup, reverse, self-loop all to be scrubbed
    e = spark.createDataFrame(edges, ["src", "dst"])
    asg = spark.createDataFrame(
        [(n, "all") for n in "abcd"], ["key", "community"]
    )
    rows = modularity(e, asg).collect()
    assert len(rows) == 1
    assert rows[0].internal_edges == 4  # a-b, b-c, c-d, d-a
    assert rows[0].degree_sum == 8
    assert rows[0].contribution == 0.0


def test_greedy_matching_equals_sequential_oracle(spark):
    """The handshake matching equals the SEQUENTIAL greedy matching on
    the md5 priority order (the classic localized-greedy equivalence),
    is a valid matching, and is maximal."""
    import hashlib
    import random

    from graphdb_neo4j_spark.operators.traversal import greedy_matching

    rng = random.Random(7)
    edges = {
        (min(u, v), max(u, v))  # lexicographic, matching _as_undirected
        for u, v in (
            (f"n{rng.randrange(60)}", f"n{rng.randrange(60)}")
            for _ in range(160)
        )
        if u != v
    }
    df = spark.createDataFrame(sorted(edges), ["src", "dst"])
    got = {(r.src, r.dst) for r in greedy_matching(df).collect()}

    # oracle: sequential greedy over ascending (md5, src, dst)
    def pri(e):
        return (hashlib.md5(f"{e[0]}|{e[1]}".encode()).hexdigest(), e[0], e[1])

    used, want = set(), set()
    for e in sorted(edges, key=pri):
        if e[0] not in used and e[1] not in used:
            want.add(e)
            used.update(e)
    assert got == want

    # matching property: no shared vertices
    verts = [v for e in got for v in e]
    assert len(verts) == len(set(verts))
    # maximality: every input edge touches a matched vertex
    mv = set(verts)
    assert all(e[0] in mv or e[1] in mv for e in edges)


def test_greedy_matching_empty_and_selfloop(spark):
    from graphdb_neo4j_spark.operators.traversal import greedy_matching

    df = spark.createDataFrame([("a", "a")], ["src", "dst"])
    assert greedy_matching(df).count() == 0


def test_local_clustering_toy_fixture(spark):
    """Triangle 1-2-3 with pendant 4 on vertex 1: c = 1/3, 1, 1, 0 —
    pins the factor-2 numerator and the d<2 guard."""
    from graphdb_neo4j_spark.operators.traversal import local_clustering

    e = spark.createDataFrame(
        [("1", "2"), ("1", "3"), ("2", "3"), ("1", "4")], ["src", "dst"]
    )
    got = {
        r.u: (r.degree, r.triangles, r.clustering_micro)
        for r in local_clustering(e).collect()
    }
    assert got == {
        "1": (3, 1, 333333),
        "2": (2, 1, 1000000),
        "3": (2, 1, 1000000),
        "4": (1, 0, 0),
    }


def test_butterfly_count_toy_fixture(spark):
    """K_{2,2} is exactly one butterfly; adding a third shared right
    vertex makes C(3,2)=3; duplicate edges must not inflate counts."""
    from graphdb_neo4j_spark.operators.traversal import butterfly_count

    k22 = spark.createDataFrame(
        [("u1", "p1"), ("u1", "p2"), ("u2", "p1"), ("u2", "p2"), ("u1", "p1")],
        ["src", "dst"],
    )
    r = butterfly_count(k22).collect()[0]
    assert (r.n_butterflies, r.copart_pairs) == (1, 1)

    k23 = spark.createDataFrame(
        [(u, p) for u in ("u1", "u2") for p in ("p1", "p2", "p3")],
        ["src", "dst"],
    )
    r = butterfly_count(k23).collect()[0]
    assert (r.n_butterflies, r.copart_pairs) == (3, 1)


def test_butterfly_hub_cap_drops_hot_right_vertices(spark):
    """hub_cap excludes right vertices with degree above the cap: in
    K_{2,3} plus a degree-3 hub part, cap=2 keeps only the original
    parts' wedges."""
    from graphdb_neo4j_spark.operators.traversal import butterfly_count

    edges = [(u, p) for u in ("u1", "u2") for p in ("p1", "p2")] + [
        ("u1", "hub"), ("u2", "hub"), ("u3", "hub")
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    uncapped = butterfly_count(df).collect()[0]
    capped = butterfly_count(df, hub_cap=2).collect()[0]
    # uncapped: pairs (u1,u2) share p1,p2,hub -> C(3,2)=3; (u1,u3),(u2,u3) share hub only
    assert (uncapped.n_butterflies, uncapped.copart_pairs) == (3, 3)
    assert (capped.n_butterflies, capped.copart_pairs) == (1, 1)


def _kruskal(edges):
    """Sequential Kruskal with the same (w, u, v) tie-break — returns
    (forest edge set, total weight)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    forest, total = set(), 0
    for w, u, v in sorted((w, min(u, v), max(u, v)) for u, v, w in edges):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            forest.add((u, v, w))
            total += w
    return forest, total


def test_minimum_spanning_forest_matches_kruskal(spark):
    """Borůvka forest == sequential Kruskal under the same global
    (w, u, v) tie-break: same edge set (distinct weights), same total
    weight (tied weights), across two disconnected components."""
    from graphdb_neo4j_spark.operators.traversal import minimum_spanning_forest

    edges = [
        # component 1: a..e with a cycle and a heavy shortcut
        ("a", "b", 4), ("b", "c", 8), ("c", "d", 7), ("d", "e", 9),
        ("e", "a", 10), ("a", "c", 11), ("b", "d", 2),
        # component 2: triangle with a tie
        ("x", "y", 5), ("y", "z", 5), ("x", "z", 5),
    ]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    got = {(r.u, r.v, r.w) for r in minimum_spanning_forest(df).collect()}
    want, want_total = _kruskal(edges)
    assert sum(w for _, _, w in got) == want_total
    assert len(got) == len(want)
    # distinct-weight edges must match exactly (unique MST there)
    assert {e for e in got if e[2] != 5} == {e for e in want if e[2] != 5}


def test_minimum_spanning_forest_duplicate_and_reversed_edges(spark):
    """Parallel edges keep the min weight; reversed duplicates collapse
    (undirected canonicalization); a chain contracts fully."""
    from graphdb_neo4j_spark.operators.traversal import minimum_spanning_forest

    edges = [("1", "2", 3), ("2", "1", 1), ("2", "3", 2), ("3", "2", 5),
             ("3", "4", 4)]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    got = sorted((r.u, r.v, r.w) for r in minimum_spanning_forest(df).collect())
    assert got == [("1", "2", 1), ("2", "3", 2), ("3", "4", 4)]


def test_maximal_independent_set_equals_sequential_greedy(spark):
    """Luby rounds with static md5 priorities == sequential greedy MIS
    in global (md5(v), v) order, on a random graph; independence and
    maximality hold."""
    import hashlib
    import random

    from graphdb_neo4j_spark.operators.traversal import maximal_independent_set

    rng = random.Random(7)
    verts = [f"v{i}" for i in range(60)]
    edges = {
        tuple(sorted((rng.choice(verts), rng.choice(verts))))
        for _ in range(150)
    }
    edges = [e for e in edges if e[0] != e[1]]
    ndf = spark.createDataFrame([(v,) for v in verts], ["key"])
    edf = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.v for r in maximal_independent_set(ndf, edf).collect()}

    adj = {v: set() for v in verts}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    want = set()
    for v in sorted(verts, key=lambda x: (hashlib.md5(x.encode()).hexdigest(), x)):
        if not (adj[v] & want):
            want.add(v)
    assert got == want
    # independence
    assert not any(a in got and b in got for a, b in edges)
    # maximality
    assert all(v in got or (adj[v] & got) for v in verts)


def test_maximal_independent_set_isolated_and_selfloop(spark):
    from graphdb_neo4j_spark.operators.traversal import maximal_independent_set

    ndf = spark.createDataFrame([("a",), ("b",), ("c",)], ["key"])
    edf = spark.createDataFrame([("a", "a"), ("b", "c")], ["src", "dst"])
    got = {r.v for r in maximal_independent_set(ndf, edf).collect()}
    assert "a" in got and len(got & {"b", "c"}) == 1


def test_greedy_coloring_equals_sequential_and_proper(spark):
    """Jones–Plassmann with static md5 priorities == sequential greedy
    coloring in global (md5(v), v) order; coloring is proper and
    (maxdegree+1)-bounded."""
    import hashlib
    import random

    from graphdb_neo4j_spark.operators.traversal import greedy_coloring

    rng = random.Random(11)
    verts = [f"n{i}" for i in range(50)]
    edges = {
        tuple(sorted((rng.choice(verts), rng.choice(verts))))
        for _ in range(140)
    }
    edges = [e for e in edges if e[0] != e[1]]
    ndf = spark.createDataFrame([(v,) for v in verts], ["key"])
    edf = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.v: r.color for r in greedy_coloring(ndf, edf).collect()}

    adj = {v: set() for v in verts}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    want = {}
    for v in sorted(verts, key=lambda x: (hashlib.md5(x.encode()).hexdigest(), x)):
        used = {want[n] for n in adj[v] if n in want}
        c = 0
        while c in used:
            c += 1
        want[v] = c
    assert got == want
    assert not any(got[a] == got[b] for a, b in edges)
    maxdeg = max(len(s) for s in adj.values())
    assert max(got.values()) <= maxdeg


def test_core_decomposition_matches_python_peel(spark):
    """Staged peeling == the classic sequential min-degree peel, on a
    graph mixing a 4-clique, a triangle bridge, and pendants."""
    import random

    from graphdb_neo4j_spark.operators.traversal import core_decomposition

    rng = random.Random(13)
    verts = [f"c{i}" for i in range(40)]
    edges = {
        tuple(sorted((rng.choice(verts), rng.choice(verts))))
        for _ in range(90)
    }
    edges = [e for e in edges if e[0] != e[1]]
    # plant a 5-clique to force coreness 4
    clique = ["c0", "c1", "c2", "c3", "c4"]
    for i in range(5):
        for j in range(i + 1, 5):
            edges.append((clique[i], clique[j]))
    edges = sorted(set(edges))
    ndf = spark.createDataFrame([(v,) for v in verts], ["key"])
    edf = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.v: r.coreness for r in core_decomposition(ndf, edf).collect()}

    adj = {v: set() for v in verts}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    deg = {v: len(adj[v]) for v in verts}
    core = {}
    live = set(verts)
    k = 0
    while live:
        while True:
            peel = [v for v in live if deg[v] <= k]
            if not peel:
                break
            for v in peel:
                core[v] = k
                live.discard(v)
                for n in adj[v]:
                    if n in live:
                        deg[n] -= 1
        k += 1
    assert got == core
    assert max(got.values()) >= 4


def test_topological_levels_dag_and_cycle(spark):
    from graphdb_neo4j_spark.operators.traversal import topological_levels

    # diamond + tail: a->b, a->c, b->d, c->d, d->e  (longest-path levels)
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e")],
        ["src", "dst"],
    )
    nodes = spark.createDataFrame([("a",), ("b",), ("c",), ("d",), ("e",)], ["key"])
    got = {r.v: r.level for r in topological_levels(nodes, edges).collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2, "e": 3}

    # cycle x->y->z->x with entry w->x and exit z->q: all unpeelable
    # (on or downstream of the cycle) come back NULL, w peels at 0
    edges2 = spark.createDataFrame(
        [("w", "x"), ("x", "y"), ("y", "z"), ("z", "x"), ("z", "q")],
        ["src", "dst"],
    )
    nodes2 = spark.createDataFrame(
        [(k,) for k in "wxyzq"], ["key"]
    )
    got2 = {r.v: r.level for r in topological_levels(nodes2, edges2).collect()}
    assert got2["w"] == 0
    assert got2["x"] is None and got2["y"] is None and got2["z"] is None
    assert got2["q"] is None

    # isolated vertex is a source at level 0
    nodes3 = spark.createDataFrame([("solo",), ("a",), ("b",)], ["key"])
    edges3 = spark.createDataFrame([("a", "b")], ["src", "dst"])
    got3 = {r.v: r.level for r in topological_levels(nodes3, edges3).collect()}
    assert got3 == {"solo": 0, "a": 0, "b": 1}


def test_harmonic_centrality_exact_path_graph(spark):
    """Path a-b-c (undirected): ends collect 1/1 + 1/2 = 1.5e6 micro;
    the middle collects 1/1 + 1/1 = 2e6."""
    from graphdb_neo4j_spark.operators.traversal import (
        harmonic_centrality_exact,
    )

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c")], ["src", "dst"]
    )
    got = {
        r["key"]: r["harmonic_micro"]
        for r in harmonic_centrality_exact(e, directed=False).collect()
    }
    assert got == {"a": 1_500_000, "b": 2_000_000, "c": 1_500_000}


def test_harmonic_centrality_exact_directed_chain(spark):
    """Directed a→b→c: only inbound distances count — a gets nothing
    (absent from the output), b gets 1/1, c gets 1/1 + 1/2."""
    from graphdb_neo4j_spark.operators.traversal import (
        harmonic_centrality_exact,
    )

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c")], ["src", "dst"]
    )
    got = {
        r["key"]: r["harmonic_micro"]
        for r in harmonic_centrality_exact(e, directed=True).collect()
    }
    assert got == {"b": 1_000_000, "c": 1_500_000}
