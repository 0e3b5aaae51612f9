"""Query-layer tests: motif matching, neighborhood, semi/anti, degrees."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphdb_neo4j_spark.operators.graph import GraphQuery


@pytest.fixture(scope="module")
def gq(spark):
    nodes = spark.createDataFrame(
        [("Process", k) for k in "abcdef"] + [("File", "f1"), ("Ip", "1.1.1.1")],
        ["label", "key"],
    )
    edges = spark.createDataFrame(
        [
            ("SPAWNS", "a", "b", 1),
            ("SPAWNS", "a", "c", 1),
            ("SPAWNS", "b", "d", 1),
            ("CONNECTED_TO", "d", "1.1.1.1", 3),
            ("CREATED_FILE", "c", "f1", 11),
            ("SELF", "e", "e", 9),
            ("SELF", "e", "f", 9),
        ],
        ["rel", "src", "dst", "event_id"],
    )
    return GraphQuery(nodes=nodes, edges=edges)


def test_match(gq):
    assert gq.match("Process", key="a").count() == 1
    assert gq.match("File").count() == 1


def test_out_in_neighbors(gq, spark):
    keys = spark.createDataFrame([("a",)], ["key"])
    assert {r.key for r in gq.out_neighbors(keys, "SPAWNS").collect()} == {"b", "c"}
    keys_d = spark.createDataFrame([("d",)], ["key"])
    assert {r.key for r in gq.in_neighbors(keys_d, "SPAWNS").collect()} == {"b"}


def test_motif_two_hop(gq):
    rows = gq.find("(a)-[SPAWNS]->(b); (b)-[SPAWNS]->(c)").collect()
    assert {(r.a, r.b, r.c) for r in rows} == {("a", "b", "d")}


def test_motif_three_hop_with_edge_var(gq):
    df = gq.find("(a)-[SPAWNS]->(b); (b)-[SPAWNS]->(c); (c)-[e:CONNECTED_TO]->(ip)")
    rows = df.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.a, r.b, r.c, r.ip) == ("a", "b", "d", "1.1.1.1")
    assert r.e.event_id == 3


def test_motif_shared_endpoint_fanout(gq):
    # (a)->(b); (a)->(c): join on shared src variable
    rows = gq.find("(x)-[SPAWNS]->(y); (x)-[SPAWNS]->(z)").collect()
    pairs = {(r.x, r.y, r.z) for r in rows}
    assert ("a", "b", "c") in pairs and ("a", "c", "b") in pairs


def test_semi_anti(gq):
    procs = gq.match("Process").select("key")
    spawned = gq.semi(procs, "SPAWNS")
    assert {r.key for r in spawned.collect()} == {"a", "b"}
    leaf = gq.anti(procs, "SPAWNS")
    assert {r.key for r in leaf.collect()} == {"c", "d", "e", "f"}


def test_motif_self_loop(gq):
    # "(s)-[R]->(s)" must keep ONLY true self-loops, not all R edges
    rows = gq.find("(s)-[SELF]->(s)").collect()
    assert {r.s for r in rows} == {"e"}
    assert gq.find("(a)-[SPAWNS]->(a)").count() == 0


def test_degrees(gq):
    d = {r.key: (r.in_degree, r.out_degree) for r in gq.degrees().collect()}
    assert d["a"] == (0, 2)
    assert d["d"] == (1, 1)
    assert d["1.1.1.1"] == (1, 0)


def test_find_optional_match(spark):
    """OPTIONAL MATCH: required rows survive with NULLs when the
    optional hop has no match, multiply when it has several."""
    from graphdb_neo4j_spark.operators.graph import GraphQuery

    nodes = spark.createDataFrame(
        [("P", k) for k in ["p1", "p2", "c1", "c2"]] + [("F", "f1"), ("F", "f2")],
        ["label", "key"],
    )
    edges = spark.createDataFrame(
        [
            ("SPAWNS", "p1", "c1", None),
            ("SPAWNS", "p2", "c2", None),
            ("CREATED_FILE", "c1", "f1", None),
            ("CREATED_FILE", "c1", "f2", None),
            # c2 creates nothing
        ],
        "rel string, src string, dst string, event_id string",
    )
    gq = GraphQuery(nodes=nodes, edges=edges)
    out = gq.find_optional("(a)-[SPAWNS]->(b)", "(b)-[CREATED_FILE]->(f)")
    rows = {(r.a, r.b, r.f) for r in out.collect()}
    assert rows == {
        ("p1", "c1", "f1"),
        ("p1", "c1", "f2"),
        ("p2", "c2", None),  # survives with NULL
    }
    with pytest.raises(ValueError):
        gq.find_optional("(a)-[SPAWNS]->(b)", "(x)-[CREATED_FILE]->(y)")


# ---------------------------------------------------------------------------
# variable-length hops: (a)-[REL*lo..hi]->(b)
# ---------------------------------------------------------------------------


def test_motif_varlen_multiplicity(spark):
    """Cypher path multiplicity: a diamond has TWO length-2 paths a→d,
    so (a,d) appears twice — one row per path, not per pair."""
    from collections import Counter

    edges = spark.createDataFrame(
        [("R", "a", "b"), ("R", "a", "c"), ("R", "b", "d"), ("R", "c", "d")],
        ["rel", "src", "dst"],
    )
    nodes = edges.select(F.lit("N").alias("label"), F.col("src").alias("key"))
    q = GraphQuery(nodes=nodes, edges=edges)
    c = Counter((r.x, r.y) for r in q.find("(x)-[R*1..2]->(y)").collect())
    assert c[("a", "d")] == 2
    assert c[("a", "b")] == 1 and c[("b", "d")] == 1
    assert sum(c.values()) == 6  # 4 length-1 paths + 2 length-2 paths


def test_motif_varlen_bounds_and_chaining(gq):
    # *2 — exactly two hops
    assert {(r.x, r.y) for r in gq.find("(x)-[SPAWNS*2]->(y)").collect()} == {
        ("a", "d")
    }
    # *..2 — implicit lower bound of 1
    assert {(r.x, r.y) for r in gq.find("(x)-[SPAWNS*..2]->(y)").collect()} == {
        ("a", "b"), ("a", "c"), ("b", "d"), ("a", "d")
    }
    # variable-length hop composes with plain hops in one motif
    rows = {
        (r.x, r.y, r.ip)
        for r in gq.find(
            "(x)-[SPAWNS*1..3]->(y); (y)-[CONNECTED_TO]->(ip)"
        ).collect()
    }
    assert rows == {("a", "d", "1.1.1.1"), ("b", "d", "1.1.1.1")}


def test_motif_varlen_rejects(gq):
    for bad in [
        "(x)-[SPAWNS*]->(y)",       # unbounded
        "(x)-[SPAWNS*2..]->(y)",    # unbounded above
        "(x)-[e:SPAWNS*1..2]->(y)", # edge var binds a list, not a struct
        "(x)-[SPAWNS*3..2]->(y)",   # inverted bounds
        "(x)-[SPAWNS*0..2]->(y)",   # zero-length hop
    ]:
        with pytest.raises(ValueError):
            gq.find(bad)


def test_varlen_corpus_matches_layered_joins(spark, reference_corpus):
    """g58's oracle: motif [SPAWNS*1..3] over the corpus process tree is
    an exact multiset match of the explicit layered-join formulation
    SPAWNS ∪ SPAWNS² ∪ SPAWNS³."""
    from graphdb_neo4j_spark.workloads import _corpus_graph

    g = _corpus_graph(spark)
    q = GraphQuery.from_graph(g)
    got = (
        q.find("(a)-[SPAWNS*1..3]->(b)")
        .groupBy("a", "b").agg(F.count("*").alias("n"))
    )
    e = g.edges.filter(F.col("rel") == "SPAWNS").select("src", "dst")

    def ext(cur):
        nxt = e.select(F.col("src").alias("m"), F.col("dst").alias("d2"))
        return cur.join(nxt, cur["dst"] == nxt["m"]).select(
            cur["src"].alias("src"), F.col("d2").alias("dst")
        )

    e2 = ext(e)
    e3 = ext(e2)
    want = (
        e.union(e2).union(e3)
        .groupBy(F.col("src").alias("a"), F.col("dst").alias("b"))
        .agg(F.count("*").alias("n"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


# ---------------------------------------------------------------------------
# node labels in motifs: (a:Label)
# ---------------------------------------------------------------------------


def test_motif_labels(gq):
    # unlabeled: CREATED_FILE matches regardless of endpoint labels
    assert gq.find("(p)-[CREATED_FILE]->(f)").count() == 1
    # labeled endpoints constrain to the node table
    rows = gq.find("(p:Process)-[CREATED_FILE]->(f:File)").collect()
    assert [(r.p, r.f) for r in rows] == [("c", "f1")]
    # wrong label → empty, not an error
    assert gq.find("(p:File)-[CREATED_FILE]->(f)").count() == 0
    # labels compose with multi-hop chains and varlen hops
    rows = gq.find(
        "(a:Process)-[SPAWNS*1..2]->(b:Process); (b)-[CONNECTED_TO]->(ip:Ip)"
    ).collect()
    assert {(r.a, r.b, r.ip) for r in rows} == {
        ("a", "d", "1.1.1.1"), ("b", "d", "1.1.1.1")
    }


def test_motif_label_conflict_rejected(gq):
    with pytest.raises(ValueError):
        gq.find("(a:Process)-[SPAWNS]->(b); (a:File)-[SPAWNS]->(c)")


def test_graph_diff_fixture(spark):
    """graph_diff: added/removed/modified legs on a hand-built pair."""
    from graphdb_neo4j_spark.operators.graph import graph_diff
    from graphdb_neo4j_spark.operators.ingest import PropertyGraph

    def build(procs, simple, edges):
        return PropertyGraph(
            process=spark.createDataFrame(procs, ["key", "image"]),
            registry_value=spark.createDataFrame(
                [], "path string, value_name string"
            ),
            wmi_filter=spark.createDataFrame([], "name string, query string"),
            wmi_consumer=spark.createDataFrame(
                [], "name string, command string"
            ),
            simple=spark.createDataFrame(simple, ["label", "key"]),
            edges=spark.createDataFrame(
                edges, ["rel", "src", "dst", "event_id"]
            ),
        )

    old = build(
        [("a", "x.exe"), ("b", "y.exe")],
        [("Trace", "t1"), ("File", "f1")],
        [("SPAWNS", "a", "b", 1), ("CREATED_FILE", "a", "f1", 11)],
    )
    new = build(
        [("a", "x.exe"), ("b", "y2.exe"), ("c", "z.exe")],  # b modified, c added
        [("Trace", "t1")],  # File f1 removed
        [
            ("SPAWNS", "a", "b", 8),        # modified (event_id 1→8)
            ("SPAWNS", "a", "c", 1),        # added
            # CREATED_FILE removed
        ],
    )
    rows = {
        (r.kind, r.name, r.change): r.n
        for r in graph_diff(old, new).collect()
    }
    assert rows == {
        ("node", "Process", "added"): 1,       # c
        ("node", "File", "removed"): 1,        # f1
        ("node", "Process", "modified"): 1,    # b's image
        ("edge", "SPAWNS", "added"): 1,        # a->c
        ("edge", "CREATED_FILE", "removed"): 1,
        ("edge", "SPAWNS", "modified"): 1,     # a->b event_id drift
    }
    # self-diff is empty
    assert graph_diff(old, old).count() == 0


def test_find_undirected_hop(spark):
    """(a)-[R]-(b): both traversal directions, one row per binding,
    self-loops bound once (Cypher semantics)."""
    nodes = spark.createDataFrame([("N", k) for k in "xyz"], ["label", "key"])
    edges = spark.createDataFrame(
        [("R", "x", "y", 1), ("R", "y", "z", 2), ("R", "z", "z", 3)],
        ["rel", "src", "dst", "event_id"],
    )
    gq = GraphQuery(nodes=nodes, edges=edges)
    got = sorted(tuple(r) for r in gq.find("(a)-[R]-(b)").collect())
    assert got == [("x", "y"), ("y", "x"), ("y", "z"), ("z", "y"), ("z", "z")]
    # edge-variable struct rides both orientations
    ev = sorted(
        tuple(r)
        for r in gq.find("(a)-[e:R]-(b)").select("a", "b", "e.event_id").collect()
    )
    assert ("x", "y", 1) in ev and ("y", "x", 1) in ev and ("z", "z", 3) in ev
    # varlen undirected: z reaches x in 2 undirected hops
    vl = {tuple(r) for r in gq.find("(a)-[R*2]-(b)").collect()}
    assert ("z", "x") in vl and ("x", "z") in vl


def test_cypher_undirected_hop(spark):
    nodes = spark.createDataFrame([("N", k) for k in "xyz"], ["label", "key"])
    edges = spark.createDataFrame(
        [("R", "x", "y", 1), ("R", "y", "z", 2), ("R", "z", "z", 3)],
        ["rel", "src", "dst", "event_id"],
    )
    gq = GraphQuery(nodes=nodes, edges=edges)
    got = sorted(
        tuple(r)
        for r in gq.cypher(
            "MATCH (a)-[:R]-(b) WHERE a = 'y' RETURN a, b ORDER BY b"
        ).collect()
    )
    assert got == [("y", "x"), ("y", "z")]


def test_undirected_degree_equals_in_plus_out(spark):
    """g80's identity: undirected-hop count per node == in-degree +
    out-degree (self-loops once) on a fixture."""
    nodes = spark.createDataFrame(
        [("Process", k) for k in "abc"], ["label", "key"]
    )
    edges = spark.createDataFrame(
        [("SPAWNS", "a", "b", 1), ("SPAWNS", "a", "c", 1),
         ("SPAWNS", "b", "c", 1)],
        ["rel", "src", "dst", "event_id"],
    )
    gq = GraphQuery(nodes=nodes, edges=edges)
    got = {
        (r.p, r.degree)
        for r in gq.cypher(
            "MATCH (p:Process)-[:SPAWNS]-(q) RETURN p, count(*) AS degree"
        ).collect()
    }
    assert got == {("a", 2), ("b", 2), ("c", 2)}
