"""Cypher front-end tests: the reference's analyst language lowered to
one Spark SQL statement (operators/cypher.py), checked against
hand-built GraphQuery/DataFrame equivalents on a process-tree fixture."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphdb_neo4j_spark.operators.cypher import cypher
from graphdb_neo4j_spark.operators.graph import GraphQuery


@pytest.fixture(scope="module")
def gq(spark):
    nodes = spark.createDataFrame(
        [("Process", k) for k in "abcdef"]
        + [("File", "f1"), ("File", "f2"), ("Ip", "10.0.0.1"), ("Ip", "8.8.8.8")],
        ["label", "key"],
    )
    edges = spark.createDataFrame(
        [
            ("SPAWNS", "a", "b", 1),
            ("SPAWNS", "a", "c", 1),
            ("SPAWNS", "b", "d", 1),
            ("CONNECTED_TO", "d", "10.0.0.1", 3),
            ("CONNECTED_TO", "c", "8.8.8.8", 3),
            ("CREATED_FILE", "c", "f1", 11),
            ("CREATED_FILE", "d", "f2", 11),
        ],
        ["rel", "src", "dst", "event_id"],
    )
    return GraphQuery(nodes=nodes, edges=edges)


@pytest.fixture(scope="module")
def props(spark):
    return {
        "Process": spark.createDataFrame(
            [
                ("a", "explorer.exe", 100),
                ("b", "powershell.exe", 200),
                ("c", "powershell.exe", 300),
                ("d", "evil.exe", 400),
                ("e", "svchost.exe", 500),
                ("f", "svchost.exe", 600),
            ],
            ["key", "image", "pid"],
        )
    }


def test_chain_pattern_and_where(gq, props):
    rows = cypher(
        gq,
        "MATCH (a:Process)-[:SPAWNS]->(b:Process)-[:SPAWNS]->(c:Process) "
        "WHERE c.image = 'evil.exe' RETURN a, b, c",
        props=props,
    ).collect()
    assert [(r.a, r.b, r.c) for r in rows] == [("a", "b", "d")]


def test_reverse_arrow(gq):
    rows = cypher(
        gq, "MATCH (ip:Ip)<-[:CONNECTED_TO]-(p:Process) RETURN p, ip"
    ).collect()
    assert {(r.p, r.ip) for r in rows} == {("d", "10.0.0.1"), ("c", "8.8.8.8")}


def test_inline_property_map(gq, props):
    rows = cypher(
        gq,
        "MATCH (p:Process {image: 'powershell.exe'})-[:CREATED_FILE]->(f:File) "
        "RETURN p, f",
        props=props,
    ).collect()
    assert {(r.p, r.f) for r in rows} == {("c", "f1")}


def test_varlen_with_aggregate_and_order(gq):
    got = cypher(
        gq,
        "MATCH (root:Process)-[:SPAWNS*1..2]->(d:Process) "
        "RETURN root, count(*) AS n ORDER BY n DESC, root LIMIT 2",
    ).collect()
    # a reaches b, c (1 hop) and d (2 hops) = 3; b reaches d = 1
    assert [(r.root, r.n) for r in got] == [("a", 3), ("b", 1)]


def test_optional_match_nulls(gq):
    rows = cypher(
        gq,
        "MATCH (a:Process)-[:SPAWNS]->(b:Process) "
        "OPTIONAL MATCH (b)-[:CONNECTED_TO]->(ip:Ip) "
        "RETURN a, b, ip",
    ).collect()
    got = {(r.a, r.b, r.ip) for r in rows}
    assert got == {("a", "b", None), ("a", "c", "8.8.8.8"), ("b", "d", "10.0.0.1")}


def test_where_starts_with_and_in(gq, props):
    rows = cypher(
        gq,
        "MATCH (p:Process)-[:CONNECTED_TO]->(ip:Ip) "
        "WHERE ip.key STARTS WITH '10.' AND p.image IN ['evil.exe', 'x.exe'] "
        "RETURN p, ip.key AS addr",
        props=props,
    ).collect()
    assert [(r.p, r.addr) for r in rows] == [("d", "10.0.0.1")]


def test_edge_variable_struct_field(gq):
    rows = cypher(
        gq,
        "MATCH (p:Process)-[e:CONNECTED_TO]->(ip:Ip) "
        "WHERE e.event_id = 3 RETURN p, e.event_id AS ev",
    ).collect()
    assert {(r.p, r.ev) for r in rows} == {("d", 3), ("c", 3)}


def test_return_distinct_and_property_projection(gq, props):
    rows = cypher(
        gq,
        "MATCH (a:Process)-[:SPAWNS]->(b:Process) "
        "RETURN DISTINCT a.image AS img",
        props=props,
    ).collect()
    assert {r.img for r in rows} == {"explorer.exe", "powershell.exe"}


def test_single_node_match(gq):
    rows = cypher(gq, "MATCH (n:Ip) RETURN n ORDER BY n").collect()
    assert [r.n for r in rows] == ["10.0.0.1", "8.8.8.8"]


def test_collect_aggregate(gq):
    rows = cypher(
        gq,
        "MATCH (a:Process)-[:SPAWNS]->(b:Process) "
        "RETURN a, collect(b) AS kids",
    ).collect()
    got = {r.a: sorted(r.kids) for r in rows}
    assert got == {"a": ["b", "c"], "b": ["d"]}


def test_errors(gq, props):
    with pytest.raises(ValueError, match="RETURN"):
        cypher(gq, "MATCH (a)-[:SPAWNS]->(b)")
    # undirected is now a FEATURE (both traversal directions); only the
    # double-headed form stays an error
    assert cypher(gq, "MATCH (a)-[:SPAWNS]-(b) RETURN a").count() > 0
    with pytest.raises(ValueError, match="no label"):
        cypher(gq, "MATCH (a)-[:SPAWNS]->(b) WHERE a.image = 'x' RETURN a")
    with pytest.raises(ValueError, match="property table"):
        cypher(gq, "MATCH (a:File)-[:X]->(b) WHERE a.sz = 1 RETURN a", props=props)
    with pytest.raises(ValueError, match="cartesian"):
        cypher(gq, "MATCH (a:Process)-[:SPAWNS]->(b), (z:File) RETURN a, z")


def test_shortest_path_pinned_endpoints(gq):
    rows = cypher(
        gq,
        "MATCH p = shortestPath((a {key: 'a'})-[:SPAWNS*]->(b {key: 'd'})) "
        "RETURN a, b, p, length(p) AS hops",
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.a, r.b, list(r.p), r.hops) == ("a", "d", ["a", "b", "d"], 2)


def test_shortest_path_free_destination(gq):
    rows = cypher(
        gq,
        "MATCH p = shortestPath((a {key: 'a'})-[:SPAWNS*]->(b:Process)) "
        "RETURN b, length(p) AS hops ORDER BY hops, b",
    ).collect()
    assert [(r.b, r.hops) for r in rows] == [("b", 1), ("c", 1), ("d", 2)]


def test_shortest_path_composes_with_match(gq):
    # the path's endpoint b joins against a relational pattern on b
    rows = cypher(
        gq,
        "MATCH p = shortestPath((a {key: 'a'})-[:SPAWNS*]->(b)), "
        "(b)-[:CONNECTED_TO]->(ip:Ip) "
        "RETURN b, ip, length(p) AS hops",
    ).collect()
    assert {(r.b, r.ip, r.hops) for r in rows} == {
        ("c", "8.8.8.8", 1),
        ("d", "10.0.0.1", 2),
    }


def test_braced_guid_keys_in_property_maps(spark):
    """Sysmon writes process GUIDs as ``{...}`` and the ingest keys
    Process nodes by them verbatim, so a quoted ``}`` inside a property
    map must not end the map: keyed lookups, edge-property maps and
    both shortestPath endpoints take such literals."""
    g1 = "{0d9f3a51-7b2e-5f21-0000-0010aa6b0a00}"
    g2 = "{0d9f3a51-7b2e-5f21-0000-0010bb6b0a00}"
    g3 = "{0d9f3a51-7b2e-5f21-0000-0010cc6b0a00}"
    gq = GraphQuery(
        nodes=spark.createDataFrame(
            [("Process", g1), ("Process", g2), ("Process", g3)], ["label", "key"]
        ),
        edges=spark.createDataFrame(
            [("SPAWNS", g1, g2, "{a}"), ("SPAWNS", g2, g3, "b")],
            ["rel", "src", "dst", "tag"],
        ),
    )
    rows = cypher(
        gq, f"MATCH (a:Process {{key: '{g1}'}})-[:SPAWNS]->(b) RETURN a, b"
    ).collect()
    assert [(r.a, r.b) for r in rows] == [(g1, g2)]
    rows = cypher(
        gq, "MATCH (a)-[e:SPAWNS {tag: '{a}'}]->(b) RETURN b"
    ).collect()
    assert [r.b for r in rows] == [g2]
    rows = cypher(
        gq,
        f"MATCH p = shortestPath((a {{key: '{g1}'}})-[:SPAWNS*]->(b {{key: '{g3}'}})) "
        "RETURN b, p, length(p) AS hops",
    ).collect()
    assert [(r.b, list(r.p), r.hops) for r in rows] == [(g3, [g1, g2, g3], 2)]


def test_shortest_path_bounds_and_errors(gq):
    # upper bound cuts the 2-hop path
    rows = cypher(
        gq,
        "MATCH p = shortestPath((a {key: 'a'})-[:SPAWNS*..1]->(b)) "
        "RETURN b ORDER BY b",
    ).collect()
    assert [r.b for r in rows] == ["b", "c"]
    with pytest.raises(ValueError, match="pinned"):
        cypher(gq, "MATCH p = shortestPath((a)-[:SPAWNS*]->(b)) RETURN p")
    with pytest.raises(ValueError, match="variable-length"):
        cypher(gq, "MATCH p = shortestPath((a {key: 'a'})-[:SPAWNS]->(b)) RETURN p")


def test_with_aggregate_then_filter(gq):
    # WITH ... WHERE = Cypher's HAVING: spawners with 2+ children
    rows = cypher(
        gq,
        "MATCH (a:Process)-[:SPAWNS]->(b:Process) "
        "WITH a, count(b) AS kids WHERE kids >= 2 "
        "RETURN a, kids",
    ).collect()
    assert [(r.a, r.kids) for r in rows] == [("a", 2)]


def test_with_pipeline_rematch(gq, props):
    # aggregate, filter, then MATCH again from the carried variable
    rows = cypher(
        gq,
        "MATCH (a:Process)-[:SPAWNS]->(b:Process) "
        "WITH b WHERE b.image = 'powershell.exe' "
        "MATCH (b)-[:CREATED_FILE]->(f:File) "
        "RETURN b, f",
        props=props,
    ).collect()
    assert {(r.b, r.f) for r in rows} == {("c", "f1")}


def test_with_then_return_no_match_between(gq):
    rows = cypher(
        gq,
        "MATCH (a:Process)-[:SPAWNS]->(b:Process) "
        "WITH a, count(*) AS n "
        "RETURN sum(n) AS total",
    ).collect()
    assert rows[0].total == 3


def test_with_order_limit_midstream(gq):
    # top-1 spawner by out-degree, then expand its children
    rows = cypher(
        gq,
        "MATCH (a:Process)-[:SPAWNS]->(b:Process) "
        "WITH a, count(*) AS n ORDER BY n DESC, a LIMIT 1 "
        "MATCH (a)-[:SPAWNS]->(kid:Process) "
        "RETURN a, kid ORDER BY kid",
    ).collect()
    assert [(r.a, r.kid) for r in rows] == [("a", "b"), ("a", "c")]


def test_with_errors(gq):
    with pytest.raises(ValueError, match="end with RETURN"):
        cypher(gq, "MATCH (a)-[:SPAWNS]->(b) WITH a")
    with pytest.raises(ValueError, match="ORDER BY must follow"):
        cypher(gq, "MATCH (a)-[:SPAWNS]->(b) ORDER BY a RETURN a")


def test_unwind_path_nodes(gq):
    rows = cypher(
        gq,
        "MATCH p = shortestPath((a {key: 'a'})-[:SPAWNS*]->(b {key: 'd'})) "
        "UNWIND nodes(p) AS n RETURN n ORDER BY n",
    ).collect()
    assert [r.n for r in rows] == ["a", "b", "d"]


def test_unwind_literal_list_and_skip(gq):
    rows = cypher(
        gq,
        "MATCH (a:Process)-[:SPAWNS]->(b:Process) "
        "UNWIND array(1, 2) AS copy "
        "RETURN b, copy ORDER BY b, copy SKIP 2 LIMIT 3",
    ).collect()
    # 3 edges x 2 copies = 6 rows ordered (b,1),(b,2),(c,1),(c,2),(d,1),(d,2);
    # SKIP 2 LIMIT 3 -> (c,1),(c,2),(d,1)
    assert [(r.b, r.copy) for r in rows] == [("c", 1), ("c", 2), ("d", 1)]


def test_graphquery_cypher_method(gq):
    rows = gq.cypher(
        "MATCH (a:Process)-[:SPAWNS]->(b:Process) RETURN count(*) AS n"
    ).collect()
    assert rows[0].n == 3


def test_multiple_optional_match_groups(gq):
    # two independent optional groups: files AND network, each its own
    # left join; rows survive with NULLs in either
    rows = cypher(
        gq,
        "MATCH (a:Process)-[:SPAWNS]->(b:Process) "
        "OPTIONAL MATCH (b)-[:CREATED_FILE]->(f:File) "
        "OPTIONAL MATCH (b)-[:CONNECTED_TO]->(ip:Ip) "
        "RETURN a, b, f, ip",
    ).collect()
    got = {(r.a, r.b, r.f, r.ip) for r in rows}
    assert got == {
        ("a", "b", None, None),
        ("a", "c", "f1", "8.8.8.8"),
        ("b", "d", "f2", "10.0.0.1"),
    }


def test_optional_inline_props_keep_outer_rows(gq, props):
    # the image predicate lives INSIDE the optional pattern: rows whose
    # child is not evil.exe must SURVIVE with a NULL, not disappear
    rows = cypher(
        gq,
        "MATCH (a:Process)-[:SPAWNS]->(b:Process) "
        "OPTIONAL MATCH (b)-[:SPAWNS]->(kid:Process {image: 'evil.exe'}) "
        "RETURN a, b, kid",
        props=props,
    ).collect()
    got = {(r.a, r.b, r.kid) for r in rows}
    assert got == {("a", "b", "d"), ("a", "c", None), ("b", "d", None)}


def test_where_exists_subpattern(gq):
    # processes that spawned something AND opened a network connection
    rows = cypher(
        gq,
        "MATCH (a:Process)-[:SPAWNS]->(b:Process) "
        "WHERE EXISTS { (b)-[:CONNECTED_TO]->(ip:Ip) } "
        "RETURN a, b",
    ).collect()
    assert {(r.a, r.b) for r in rows} == {("a", "c"), ("b", "d")}


def test_where_not_exists_anti_join(gq):
    # spawned processes with NO outgoing network connection
    rows = cypher(
        gq,
        "MATCH (a:Process)-[:SPAWNS]->(b:Process) "
        "WHERE NOT EXISTS ((b)-[:CONNECTED_TO]->(ip:Ip)) "
        "RETURN b ORDER BY b",
    ).collect()
    assert [r.b for r in rows] == ["b"]


def test_exists_combines_with_plain_predicate(gq, props):
    rows = cypher(
        gq,
        "MATCH (a:Process)-[:SPAWNS]->(b:Process) "
        "WHERE b.image <> 'evil.exe' AND EXISTS { (b)-[:CREATED_FILE]->(f:File) } "
        "RETURN b",
        props=props,
    ).collect()
    assert [r.b for r in rows] == ["c"]


def test_exists_inside_or_rejected(gq):
    with pytest.raises(ValueError, match="top-level AND"):
        cypher(
            gq,
            "MATCH (a:Process)-[:SPAWNS]->(b) "
            "WHERE a = 'x' OR EXISTS { (b)-[:CONNECTED_TO]->(i) } "
            "RETURN a",
        )


def test_count_distinct_aggregate(gq):
    rows = cypher(
        gq,
        "MATCH (a:Process)-[:SPAWNS]->(b:Process) "
        "RETURN count(DISTINCT a) AS n_spawners",
    ).collect()
    assert rows[0].n_spawners == 2


def test_exists_with_property_filter(gq, props):
    # correlated, property-filtered existence: processes that spawned a
    # powershell child (inline-props form)
    rows = cypher(
        gq,
        "MATCH (p:Process)-[:SPAWNS]->(q:Process) "
        "WHERE EXISTS { (p)-[:SPAWNS]->(x:Process {image: 'powershell.exe'}) } "
        "RETURN DISTINCT p",
        props=props,
    ).collect()
    assert {r.p for r in rows} == {"a"}  # a spawned b and c (powershell)


def test_exists_with_inner_where(gq, props):
    # EXISTS { pattern WHERE prop predicate } — the subquery form
    rows = cypher(
        gq,
        "MATCH (t:Process)-[:SPAWNS]->(p:Process) "
        "WHERE EXISTS { (p)-[:SPAWNS]->(x:Process) WHERE x.pid >= 400 } "
        "RETURN t, p",
        props=props,
    ).collect()
    assert {(r.t, r.p) for r in rows} == {("a", "b")}  # b spawned d (pid 400)


def test_not_exists_with_property_filter(gq, props):
    # spawned processes that never spawned an evil.exe child
    rows = cypher(
        gq,
        "MATCH (a:Process)-[:SPAWNS]->(p:Process) "
        "WHERE NOT EXISTS { (p)-[:SPAWNS]->(x:Process {image: 'evil.exe'}) } "
        "RETURN p ORDER BY p",
        props=props,
    ).collect()
    assert [r.p for r in rows] == ["c", "d"]  # b spawned evil d → excluded


def test_exists_property_filter_requires_label_and_table(gq):
    with pytest.raises(ValueError, match="label the variable"):
        cypher(
            gq,
            "MATCH (p:Process)-[:SPAWNS]->(q:Process) "
            "WHERE EXISTS { (p)-[:SPAWNS]->(x) WHERE x.pid > 1 } RETURN p",
        )
    with pytest.raises(ValueError, match="property table"):
        cypher(
            gq,
            "MATCH (p:Process)-[:SPAWNS]->(q:Process) "
            "WHERE EXISTS { (p)-[:SPAWNS]->(x:Process) WHERE x.pid > 1 } "
            "RETURN p",
        )


def test_backtick_quoted_property_names(gq, spark):
    # Neo4j backtick escapes for non-word property names (dots): the
    # exact column is referenced, never struct access
    props = {
        "Process": spark.createDataFrame(
            [("a", "x"), ("b", "alert1"), ("c", "alert2"), ("d", None)],
            ["key", "sigma.alert"],
        )
    }
    rows = cypher(
        gq,
        "MATCH (p:Process)-[:SPAWNS]->(q:Process) "
        "WHERE q.`sigma.alert` STARTS WITH 'alert' "
        "RETURN p, q, q.`sigma.alert` AS alert ORDER BY q",
        props=props,
    ).collect()
    assert [(r.p, r.q, r.alert) for r in rows] == [
        ("a", "b", "alert1"),
        ("a", "c", "alert2"),
    ]
    # inline property map with a backticked key
    rows = cypher(
        gq,
        "MATCH (p:Process {`sigma.alert`: 'alert2'})-[:CREATED_FILE]->(f:File) "
        "RETURN p, f",
        props=props,
    ).collect()
    assert [(r.p, r.f) for r in rows] == [("c", "f1")]


def test_exists_multi_hop_chain(gq):
    # EXISTS over a 2-hop chain pattern: processes with a grandchild
    # that talks to the network
    rows = cypher(
        gq,
        "MATCH (a:Process)-[:SPAWNS]->(b:Process) "
        "WHERE EXISTS { (a)-[:SPAWNS]->(x:Process)-[:CONNECTED_TO]->(ip:Ip) } "
        "RETURN DISTINCT a",
    ).collect()
    # a spawned c (-> 8.8.8.8); b spawned d (-> 10.0.0.1)
    assert {r.a for r in rows} == {"a", "b"}


def test_exists_with_varlen_hop(gq):
    # bounded variable-length hop inside EXISTS: ancestors (≤2 hops)
    # of a network-connected process
    rows = cypher(
        gq,
        "MATCH (a:Process)-[:SPAWNS]->(b:Process) "
        "WHERE EXISTS { (a)-[:SPAWNS*1..2]->(x:Process)"
        "-[:CONNECTED_TO]->(ip:Ip) } "
        "RETURN DISTINCT a ORDER BY a",
    ).collect()
    assert [r.a for r in rows] == ["a", "b"]


def test_backtick_labels_and_rel_types(spark):
    # labels / rel types with spaces and dots, Neo4j backtick escapes —
    # both in GraphQuery.find motifs and in Cypher text
    nodes = spark.createDataFrame(
        [("My Label", "a"), ("My Label", "b"), ("other.label", "x")],
        ["label", "key"],
    )
    edges = spark.createDataFrame(
        [("HAS PART", "a", "x", 1), ("HAS PART", "b", "x", 1)],
        ["rel", "src", "dst", "event_id"],
    )
    g = GraphQuery(nodes=nodes, edges=edges)
    rows = g.find("(p:`My Label`)-[`HAS PART`]->(q:`other.label`)").collect()
    assert {(r.p, r.q) for r in rows} == {("a", "x"), ("b", "x")}
    rows = cypher(
        g,
        "MATCH (p:`My Label`)-[:`HAS PART`]->(q:`other.label`) "
        "RETURN p, q ORDER BY p",
    ).collect()
    assert [(r.p, r.q) for r in rows] == [("a", "x"), ("b", "x")]


def test_bare_pattern_predicate(gq):
    # Neo4j's classic existence idiom: a bare pattern as a WHERE
    # conjunct, no EXISTS keyword
    rows = cypher(
        gq,
        "MATCH (a:Process)-[:SPAWNS]->(p:Process) "
        "WHERE NOT (p)-[:CONNECTED_TO]->() "
        "RETURN p ORDER BY p",
    ).collect()
    assert [r.p for r in rows] == ["b"]  # c and d both connect out
    rows = cypher(
        gq,
        "MATCH (a:Process)-[:SPAWNS]->(p:Process) "
        "WHERE (p)-[:CREATED_FILE]->(f:File) AND p <> 'c' "
        "RETURN p",
    ).collect()
    assert [r.p for r in rows] == ["d"]


def test_collect_distinct(gq):
    rows = cypher(
        gq,
        "MATCH (a:Process)-[:SPAWNS]->(b:Process)-[:CREATED_FILE]->(f:File) "
        "RETURN a, collect(DISTINCT b) AS kids",
    ).collect()
    assert sorted((r.a, tuple(r.kids)) for r in rows) == [
        ("a", ("c",)), ("b", ("d",)),
    ]


def test_pattern_count_expressions(gq):
    # size((n)-[:R]->()) — the classic degree idiom
    rows = cypher(
        gq,
        "MATCH (a:Process)-[:SPAWNS]->(p:Process) "
        "RETURN p, size((p)-[:SPAWNS]->()) AS kids ORDER BY p",
    ).collect()
    assert [(r.p, r.kids) for r in rows] == [("b", 1), ("c", 0), ("d", 0)]
    # COUNT { ... } — the Neo4j 5 spelling, usable in WHERE too
    rows = cypher(
        gq,
        "MATCH (a:Process)-[:SPAWNS]->(p:Process) "
        "WHERE COUNT { (p)-[:CONNECTED_TO]->() } = 0 "
        "RETURN p",
    ).collect()
    assert [r.p for r in rows] == ["b"]
    # composes with arithmetic
    rows = cypher(
        gq,
        "MATCH (a:Process) "
        "RETURN a, size((a)-[:SPAWNS]->()) + size((a)-[:CREATED_FILE]->()) "
        "AS degree ORDER BY degree DESC, a LIMIT 2",
    ).collect()
    assert [(r.a, r.degree) for r in rows] == [("a", 2), ("b", 1)]


def test_pattern_features_hypothesis_python_oracle(spark):
    """Property test: on random small graphs, pattern counts, bare
    pattern predicates, and EXISTS all agree with a direct Python
    evaluation of the same semantics."""
    import random

    from graphdb_neo4j_spark.operators.graph import GraphQuery

    rng = random.Random(7)
    for trial in range(3):
        n = 8
        edges = set()
        while len(edges) < 14:
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                edges.add((rng.choice(["R", "S"]), f"n{a}", f"n{b}"))
        nodes = [("X", f"n{i}") for i in range(n)]
        g = GraphQuery(
            nodes=spark.createDataFrame(nodes, ["label", "key"]),
            edges=spark.createDataFrame(
                [(r, s, d, 1) for r, s, d in edges],
                ["rel", "src", "dst", "event_id"],
            ),
        )
        out = {
            (r.a, r.b, r.deg): None
            for r in cypher(
                g,
                "MATCH (a:X)-[:R]->(b:X) "
                "WHERE NOT (b)-[:S]->() "
                "RETURN a, b, size((b)-[:R]->()) AS deg",
            ).collect()
        }
        r_edges = {(s, d) for rel, s, d in edges if rel == "R"}
        s_src = {s for rel, s, d in edges if rel == "S"}
        want = {
            (a, b, sum(1 for (x, y) in r_edges if x == b))
            for (a, b) in r_edges
            if b not in s_src
        }
        assert set(out) == want, (trial, sorted(out), sorted(want))


def test_optional_match_with_varlen(gq):
    # bounded varlen inside OPTIONAL MATCH: non-matching rows NULL-extend
    rows = cypher(
        gq,
        "MATCH (a:Process)-[:SPAWNS]->(b:Process) "
        "OPTIONAL MATCH (b)-[:SPAWNS*1..2]->(d:Process) "
        "RETURN a, b, d ORDER BY a, b, d",
    ).collect()
    assert [(r.a, r.b, r.d) for r in rows] == [
        ("a", "b", "d"),
        ("a", "c", None),
        ("b", "d", None),
    ]


def test_case_expression_simple_form(gq):
    rows = cypher(
        gq,
        "MATCH (p:Process)-[:SPAWNS]->(c:Process) "
        "RETURN c.key AS child, "
        "CASE p.key WHEN 'a' THEN 'root-child' ELSE 'deep' END AS depth "
        "ORDER BY child",
    ).collect()
    assert [(r.child, r.depth) for r in rows] == [
        ("b", "root-child"), ("c", "root-child"), ("d", "deep"),
    ]


def test_case_expression_wrapping_aggregate(gq):
    """CASE containing count(*) is an aggregate RETURN item, not an
    implicit grouping key (Cypher's grouping rule)."""
    rows = cypher(
        gq,
        "MATCH (p:Process)-[:SPAWNS]->(c:Process) "
        "RETURN p.key AS parent, "
        "CASE WHEN count(*) > 1 THEN 'fanout' ELSE 'single' END AS kind, "
        "count(*) AS n ORDER BY parent",
    ).collect()
    assert [(r.parent, r.kind, r.n) for r in rows] == [
        ("a", "fanout", 2), ("b", "single", 1),
    ]


def test_case_inside_aggregate(gq):
    rows = cypher(
        gq,
        "MATCH (p:Process)-[:SPAWNS]->(c:Process) "
        "RETURN p.key AS parent, "
        "sum(CASE WHEN c.key = 'b' THEN 1 ELSE 0 END) AS n_b "
        "ORDER BY parent",
    ).collect()
    assert [(r.parent, r.n_b) for r in rows] == [("a", 1), ("b", 0)]


def test_cypher_scalar_function_rewrites(gq):
    rows = cypher(
        gq,
        "MATCH (p:Process)-[:SPAWNS]->(c:Process) "
        "WHERE toUpper(c.key) = 'B' "
        "RETURN toString(p.key) AS parent, toInteger('7') AS seven, "
        "toFloat('1.5') AS fl, toLower('ABC') AS lo",
    ).collect()
    assert [(r.parent, r.seven, r.fl, r.lo) for r in rows] == [
        ("a", 7, 1.5, "abc")
    ]


def test_union_all_bag_semantics(gq):
    rows = cypher(
        gq,
        "MATCH (p:Process)-[:CREATED_FILE]->(f:File) RETURN p AS who "
        "UNION ALL "
        "MATCH (p:Process)-[:CONNECTED_TO]->(ip:Ip) RETURN p AS who",
    ).collect()
    # d appears in BOTH arms — UNION ALL keeps the duplicate
    assert sorted(r.who for r in rows) == ["c", "c", "d", "d"]


def test_union_distinct(gq):
    rows = cypher(
        gq,
        "MATCH (p:Process)-[:CREATED_FILE]->(f:File) RETURN p AS who "
        "UNION "
        "MATCH (p:Process)-[:CONNECTED_TO]->(ip:Ip) RETURN p AS who",
    ).collect()
    assert sorted(r.who for r in rows) == ["c", "d"]


def test_union_three_arms_with_where(gq, props):
    rows = cypher(
        gq,
        "MATCH (p:Process) WHERE p.image = 'evil.exe' RETURN p AS k "
        "UNION MATCH (p:Process) WHERE p.image = 'explorer.exe' RETURN p AS k "
        "UNION MATCH (p:Process)-[:SPAWNS]->(c:Process) "
        "WHERE c.image = 'evil.exe' RETURN p AS k",
        props=props,
    ).collect()
    assert sorted(r.k for r in rows) == ["a", "b", "d"]


def test_union_column_mismatch_raises(gq):
    with pytest.raises(ValueError, match="same column names"):
        cypher(
            gq,
            "MATCH (p:Process) RETURN p AS x "
            "UNION MATCH (p:Process) RETURN p AS y",
        )


def test_union_mixed_kinds_raises(gq):
    with pytest.raises(ValueError, match="mix UNION"):
        cypher(
            gq,
            "MATCH (p:Process) RETURN p AS x "
            "UNION MATCH (p:Process) RETURN p AS x "
            "UNION ALL MATCH (p:Process) RETURN p AS x",
        )


def test_union_keyword_inside_string_is_opaque(gq, props):
    rows = cypher(
        gq,
        "MATCH (p:Process) WHERE p.image = 'union all.exe' RETURN p AS k",
        props=props,
    ).collect()
    assert rows == []


def test_call_subquery_post_union_aggregation(gq):
    """CALL { arm UNION arm } WITH … RETURN — Neo4j's post-UNION
    processing idiom: aggregate over the union's rows."""
    rows = cypher(
        gq,
        "CALL { "
        "MATCH (p:Process)-[:CREATED_FILE]->(f:File) RETURN p AS who "
        "UNION ALL "
        "MATCH (p:Process)-[:CONNECTED_TO]->(ip:Ip) RETURN p AS who "
        "} RETURN who, count(*) AS n ORDER BY who",
    ).collect()
    assert [(r.who, r.n) for r in rows] == [("c", 2), ("d", 2)]


def test_call_subquery_then_match(gq):
    """Rows carried out of CALL re-join a following MATCH on the shared
    variable."""
    rows = cypher(
        gq,
        "CALL { MATCH (a:Process)-[:SPAWNS]->(b:Process) RETURN b } "
        "MATCH (b)-[:SPAWNS]->(c:Process) RETURN b, c",
    ).collect()
    assert {(r.b, r.c) for r in rows} == {("b", "d")}


def test_call_subquery_unbalanced_raises(gq):
    with pytest.raises(ValueError, match="unbalanced"):
        cypher(gq, "CALL { MATCH (p:Process) RETURN p")


def test_inline_edge_property_map(gq):
    """[e:REL {prop: v}] desugars to the edge-var predicate — named
    var, anonymous edge, and empty map all behave; equal to the WHERE
    form."""
    want = cypher(
        gq,
        "MATCH (p:Process)-[e:CONNECTED_TO]->(ip:Ip) "
        "WHERE e.event_id = 3 RETURN p, ip",
    ).collect()
    named = cypher(
        gq,
        "MATCH (p:Process)-[e:CONNECTED_TO {event_id: 3}]->(ip:Ip) "
        "RETURN p, ip",
    ).collect()
    anon = cypher(
        gq,
        "MATCH (p:Process)-[:CONNECTED_TO {event_id: 3}]->(ip:Ip) "
        "RETURN p, ip",
    ).collect()
    empty = cypher(
        gq,
        "MATCH (p:Process)-[:CONNECTED_TO {}]->(ip:Ip) RETURN p, ip",
    ).collect()
    key = lambda rows: sorted((r.p, r.ip) for r in rows)  # noqa: E731
    assert key(named) == key(want)
    assert key(anon) == key(want)
    assert len(empty) >= len(want)


def test_inline_edge_props_on_varlen_rejected(gq):
    import pytest

    with pytest.raises(ValueError, match="variable-length"):
        cypher(
            gq,
            "MATCH (a:Process)-[:SPAWNS*1..2 {event_id: 1}]->(b:Process) "
            "RETURN a, b",
        )


def test_exists_multi_hop_chain(spark):
    """EXISTS subpatterns compile through the same hop chain as MATCH:
    multi-hop and undirected forms both lower to semi/anti joins."""
    nodes = spark.createDataFrame([("N", k) for k in "wxyz"], ["label", "key"])
    edges = spark.createDataFrame(
        [("R", "w", "x", 1), ("S", "x", "y", 2), ("R", "y", "z", 3)],
        ["rel", "src", "dst", "event_id"],
    )
    gq = GraphQuery(nodes=nodes, edges=edges)
    got = sorted(tuple(r) for r in gq.cypher(
        "MATCH (a)-[:R]->(b) WHERE EXISTS { (a)-[:R]->(m)-[:S]->(n) } "
        "RETURN a, b").collect())
    assert got == [("w", "x")]
    got = sorted(tuple(r) for r in gq.cypher(
        "MATCH (a)-[:R]->(b) WHERE NOT EXISTS { (b)-[:S]->(m)-[:R]->(n) } "
        "RETURN a, b").collect())
    assert got == [("y", "z")]
    got = sorted(tuple(r) for r in gq.cypher(
        "MATCH (a)-[:R]->(b) WHERE EXISTS { (b)-[:S]-(m) } RETURN a, b"
    ).collect())
    assert got == [("w", "x")]


@pytest.fixture(scope="module")
def two_trees(spark):
    """SPAWNS a→b and x→y; only b created a file (f1)."""
    nodes = spark.createDataFrame(
        [("Process", k) for k in "abxy"] + [("File", "f1")], ["label", "key"]
    )
    edges = spark.createDataFrame(
        [("SPAWNS", "a", "b", 1), ("SPAWNS", "x", "y", 1),
         ("CREATED_FILE", "b", "f1", 11)],
        ["rel", "src", "dst", "event_id"],
    )
    return GraphQuery(nodes=nodes, edges=edges)


def test_optional_match_where_restricts_only_the_optional_side(two_trees):
    """A WHERE after OPTIONAL MATCH belongs to the OPTIONAL MATCH, even
    when it names an outer variable: an outer row it rejects keeps its
    NULLs instead of disappearing."""
    rows = cypher(
        two_trees,
        "MATCH (a:Process)-[:SPAWNS]->(b:Process) "
        "OPTIONAL MATCH (b)-[:CREATED_FILE]->(f:File) WHERE a = 'a' "
        "RETURN a, b, f",
    ).collect()
    assert sorted((r.a, r.b, r.f) for r in rows) == [
        ("a", "b", "f1"), ("x", "y", None),
    ]


def test_each_where_attaches_to_the_clause_it_follows(two_trees):
    """MATCH … WHERE … OPTIONAL MATCH … WHERE …: the first WHERE filters
    the MATCH rows, the second the optional side."""
    q = (
        "MATCH (a:Process)-[:SPAWNS]->(b:Process) WHERE b <> '{b}' "
        "OPTIONAL MATCH (b)-[:CREATED_FILE]->(f:File) WHERE f = '{f}' "
        "RETURN a, b, f"
    )

    def run(b, f):
        rows = cypher(two_trees, q.format(b=b, f=f)).collect()
        return sorted((r.a, r.b, r.f) for r in rows)

    assert run("zz", "f1") == [("a", "b", "f1"), ("x", "y", None)]
    assert run("zz", "f9") == [("a", "b", None), ("x", "y", None)]
    assert run("y", "f1") == [("a", "b", "f1")]


def test_statement_keeps_the_callers_cached_tables(spark):
    """cypher() and find() hand the graph tables to spark.sql as frame
    arguments, whose temp views spark.sql drops again; a table the
    caller persisted stays cached, so later reads still scan the cache
    instead of recomputing the table."""
    from pyspark import StorageLevel

    nodes = spark.createDataFrame(
        [("Process", "a"), ("Process", "b")], ["label", "key"]
    ).persist()
    edges = spark.createDataFrame(
        [("SPAWNS", "a", "b", 1)], ["rel", "src", "dst", "event_id"]
    ).persist()
    process = spark.createDataFrame([("a", "a.exe"), ("b", "b.exe")], ["key", "image"]).persist()
    try:
        for t in (nodes, edges, process):
            t.count()
        gq = GraphQuery(nodes=nodes, edges=edges)
        rows = gq.cypher(
            "MATCH (a:Process)-[:SPAWNS]->(b:Process) RETURN a, b.image AS image",
            props={"Process": process},
        ).collect()
        assert [(r.a, r.image) for r in rows] == [("a", "b.exe")]
        assert gq.find("(a)-[SPAWNS]->(b)").count() == 1
        assert [t.storageLevel for t in (nodes, edges, process)] == [
            StorageLevel.MEMORY_AND_DISK_DESER
        ] * 3
    finally:
        for t in (nodes, edges, process):
            t.unpersist()
