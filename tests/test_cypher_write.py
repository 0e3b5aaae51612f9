"""Cypher write-clause compiler (operators/cypher_write.py).

Semantics under test mirror the reference's Bolt behavior
(`/root/reference/events.py:74-246`): MERGE dedup, ON CREATE / ON MATCH
asymmetry, bare-SET last-writer-wins including NULL, coalesce keep-old,
MATCH gating (the BIND_TO no-op), and DELETE/DETACH DELETE.  Each test
replays a template over a parameter DataFrame and checks the resulting
store tables exactly; the final test replays one of the reference's own
templates over the real derived span stream and compares against the
hand-built ingest pipeline's table.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphdb_neo4j_spark.operators.cypher_write import (
    CypherWriteError,
    GraphWriter,
    parse_write_template,
)


def rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.fixture()
def writer(spark):
    return GraphWriter(spark)


# ---------------------------------------------------------------------------
# parsing
# ---------------------------------------------------------------------------


def test_parse_reference_process_template():
    t = parse_write_template(
        """
        MERGE (p:Process {key:$key})
        ON CREATE SET p.image = $image, p.command_line = $cmd
        ON MATCH SET p.image = coalesce($image, p.image)
        MERGE (t:Trace {traceID:$traceID})
        MERGE (t)-[r:HAS_PROCESS]->(p)
        SET r.event_id = $event_id
        """
    )
    assert [n.label for n in t.nodes] == ["Process", "Trace"]
    assert t.nodes[0].on_create[0].prop == "image"
    assert not t.nodes[0].on_create[0].keep_old
    assert t.nodes[0].on_match[0].keep_old
    assert t.edges[0].rel == "HAS_PROCESS"
    assert t.edges[0].src_var == "t" and t.edges[0].dst_var == "p"
    assert t.edges[0].bare_set[0].prop == "event_id"
    assert t.params == {"key", "image", "cmd", "traceID", "event_id"}


def test_parse_reverse_arrow_and_backticks():
    t = parse_write_template(
        "MERGE (a:`My Label` {k:$x}) MERGE (b:B {k:$y}) "
        "MERGE (a)<-[r:`HAS PART`]-(b) SET r.`weird.prop` = $w"
    )
    assert t.nodes[0].label == "My Label"
    assert t.edges[0].rel == "HAS PART"
    # reverse arrow: b is the source
    assert t.edges[0].src_var == "b" and t.edges[0].dst_var == "a"
    assert t.edges[0].bare_set[0].prop == "weird.prop"


def test_parse_rejects():
    with pytest.raises(CypherWriteError):
        parse_write_template("RETURN 1")
    with pytest.raises(CypherWriteError):
        parse_write_template("MERGE (a:A {k:$k}) SET a.x = a.x + 1")
    with pytest.raises(CypherWriteError):
        parse_write_template("MERGE (a:A {k:$k})-[r:R]->(b)")  # unbound b
    with pytest.raises(CypherWriteError):
        # same prop in branch and bare SET
        parse_write_template(
            "MERGE (a:A {k:$k}) ON CREATE SET a.x=$x SET a.x=$y"
        )


# ---------------------------------------------------------------------------
# node merge semantics
# ---------------------------------------------------------------------------


def test_merge_dedup_and_create_match_asymmetry(spark, writer):
    # three writes of key A (image: null → 'x.exe' → null), one of B.
    params = spark.createDataFrame(
        [(1, "A", None), (2, "A", "x.exe"), (3, "A", None), (4, "B", "b.exe")],
        "seq int, key string, image string",
    )
    writer.execute(
        """
        MERGE (p:Process {key:$key})
        ON CREATE SET p.guid = $image
        ON MATCH SET p.image = coalesce($image, p.image)
        """,
        params,
        order=["seq"],
    )
    got = rows(writer.store.nodes["Process"], "key", "guid", "image")
    # A: created by seq1 (guid=null), matched by 2 & 3 (keep-old → x.exe)
    # B: created by seq4 (guid='b.exe'), never matched (image null)
    assert got == [("A", None, "x.exe"), ("B", "b.exe", None)]


def test_bare_set_null_overwrites(spark, writer):
    params = spark.createDataFrame(
        [(1, "A", "first"), (2, "A", None)], "seq int, k string, v string"
    )
    writer.execute("MERGE (n:N {key:$k}) SET n.v = $v", params, order=["seq"])
    assert rows(writer.store.nodes["N"], "key", "v") == [("A", None)]


def test_keep_old_set_survives_null(spark, writer):
    params = spark.createDataFrame(
        [(1, "A", "first"), (2, "A", None)], "seq int, k string, v string"
    )
    writer.execute(
        "MERGE (n:N {key:$k}) SET n.v = coalesce($v, n.v)", params, order=["seq"]
    )
    assert rows(writer.store.nodes["N"], "key", "v") == [("A", "first")]


def test_on_create_fires_once_across_executes(spark, writer):
    p1 = spark.createDataFrame([(1, "A", "orig")], "seq int, k string, v string")
    p2 = spark.createDataFrame([(1, "A", "later")], "seq int, k string, v string")
    tmpl = "MERGE (n:N {key:$k}) ON CREATE SET n.v = $v"
    writer.execute(tmpl, p1, order=["seq"])
    writer.execute(tmpl, p2, order=["seq"])  # key exists → ON CREATE skipped
    assert rows(writer.store.nodes["N"], "key", "v") == [("A", "orig")]


def test_write_order_last_writer_wins(spark, writer):
    params = spark.createDataFrame(
        [(2, "A", "late"), (1, "A", "early")], "seq int, k string, v string"
    )
    writer.execute("MERGE (n:N {key:$k}) SET n.v = $v", params, order=["seq"])
    assert rows(writer.store.nodes["N"], "key", "v") == [("A", "late")]


def test_null_merge_key_noops(spark, writer):
    params = spark.createDataFrame(
        [(1, None, "x"), (2, "A", "y")], "seq int, k string, v string"
    )
    writer.execute("MERGE (n:N {key:$k}) SET n.v=$v", params, order=["seq"])
    assert rows(writer.store.nodes["N"], "key") == [("A",)]


# ---------------------------------------------------------------------------
# edges, MATCH gating, deletes
# ---------------------------------------------------------------------------


def test_edge_merge_dedup_and_props(spark, writer):
    params = spark.createDataFrame(
        [(1, "p1", "f1", 11), (2, "p1", "f1", 22), (3, "p2", "f1", 33)],
        "seq int, pk string, fk string, ev int",
    )
    writer.execute(
        """
        MERGE (p:Process {key:$pk}) MERGE (f:File {path:$fk})
        MERGE (p)-[r:CREATED_FILE]->(f) SET r.event_id = $ev
        """,
        params,
        order=["seq"],
    )
    got = rows(writer.store.edges["CREATED_FILE"], "src", "dst", "event_id")
    assert got == [("p1", "f1", 22), ("p2", "f1", 33)]
    assert rows(writer.store.nodes["File"], "path") == [("f1",)]


def test_match_gating_bind_to_noop(spark, writer):
    # reference BIND_TO (events.py:155-160): edge only when BOTH matched
    writer.execute(
        "MERGE (wf:WmiFilter {name:$n})",
        spark.createDataFrame([("F1",)], "n string"),
    )
    writer.execute(
        "MERGE (wc:WmiConsumer {name:$n})",
        spark.createDataFrame([("C1",)], "n string"),
    )
    binds = spark.createDataFrame(
        [(1, "F1", "C1"), (2, "F1", "MISSING"), (3, "NOPE", "C1")],
        "seq int, f string, c string",
    )
    writer.execute(
        """
        MATCH (wf:WmiFilter {name:$f})
        MATCH (wc:WmiConsumer {name:$c})
        MERGE (wf)-[r:BIND_TO]->(wc) SET r.event_id = $seq
        """,
        binds,
        order=["seq"],
    )
    assert rows(writer.store.edges["BIND_TO"], "src", "dst", "event_id") == [
        ("F1", "C1", 1)
    ]


def test_match_set_updates_only_existing(spark, writer):
    writer.execute(
        "MERGE (n:N {key:$k}) SET n.v = $v",
        spark.createDataFrame([(1, "A", "a0")], "seq int, k string, v string"),
        order=["seq"],
    )
    writer.execute(
        "MATCH (n:N {key:$k}) SET n.v = $v",
        spark.createDataFrame(
            [(1, "A", "a1"), (2, "GHOST", "g")], "seq int, k string, v string"
        ),
        order=["seq"],
    )
    # A updated; GHOST not created
    assert rows(writer.store.nodes["N"], "key", "v") == [("A", "a1")]


def test_delete_edge_and_detach_delete_node(spark, writer):
    writer.execute(
        """
        MERGE (a:A {k:$a}) MERGE (b:B {k:$b}) MERGE (a)-[r:R]->(b)
        """,
        spark.createDataFrame(
            [("a1", "b1"), ("a1", "b2"), ("a2", "b1")], "a string, b string"
        ),
    )
    # delete one edge
    writer.execute(
        "MATCH (a:A {k:$a}) MATCH (b:B {k:$b}) MERGE (a)-[r:R]->(b) DELETE r",
        spark.createDataFrame([("a1", "b2")], "a string, b string"),
    )
    assert rows(writer.store.edges["R"], "src", "dst") == [
        ("a1", "b1"),
        ("a2", "b1"),
    ]
    # detach-delete node a1 removes it and its remaining edge
    writer.execute(
        "MATCH (a:A {k:$a}) DETACH DELETE a",
        spark.createDataFrame([("a1",)], "a string"),
    )
    assert rows(writer.store.nodes["A"], "k") == [("a2",)]
    assert rows(writer.store.edges["R"], "src", "dst") == [("a2", "b1")]


def test_create_is_constraint_backed(spark, writer):
    """CREATE on the keyed store no-ops for existing keys (module doc)."""
    writer.execute(
        "CREATE (n:N {key:$k, v:$v})",
        spark.createDataFrame([(1, "A", "a0")], "seq int, k string, v string"),
        order=["seq"],
    )
    writer.execute(
        "CREATE (n:N {key:$k, v:$v})",
        spark.createDataFrame([(1, "A", "a1")], "seq int, k string, v string"),
        order=["seq"],
    )
    # composite map is the merge key → (A, a0) and (A, a1) are distinct keys
    assert rows(writer.store.nodes["N"], "key", "v") == [("A", "a0"), ("A", "a1")]


def test_nodes_df_edges_df_views(spark, writer):
    writer.execute(
        "MERGE (a:A {k:$a}) MERGE (b:B {k:$b}) MERGE (a)-[r:R]->(b)",
        spark.createDataFrame([("a1", "b1")], "a string, b string"),
    )
    assert rows(writer.store.nodes_df(), "label", "key") == [
        ("A", "a1"),
        ("B", "b1"),
    ]
    assert rows(writer.store.edges_df(), "rel", "src", "dst") == [
        ("R", "a1", "b1")
    ]


# ---------------------------------------------------------------------------
# parity with the hand-built ingest pipeline on a reference template
# ---------------------------------------------------------------------------


def test_reference_template_parity_created_file(spark, trace_glob):
    """Replay events.py:102-106 (event 11 → CREATED_FILE) through the
    generic writer over the derived span stream (the reference corpus
    where present, else written traces) and compare the edge table
    bit-for-bit with the hand-built router's output."""
    from graphdb_neo4j_spark.operators import build_graph
    from graphdb_neo4j_spark.functions.etl import tag

    g = build_graph(spark, trace_glob)
    from graphdb_neo4j_spark.operators.ingest import _derive
    from graphdb_neo4j_spark.sources.jaeger import read_spans

    d = _derive(read_spans(spark, trace_glob))
    t = F.col("tags")
    e11 = d.filter(
        (F.col("ev") == "11")
        & F.col("pkey").isNotNull()
        & tag(t, "TargetFilename", "Path").isNotNull()
    ).select(
        F.col("pkey").alias("pk"),
        tag(t, "TargetFilename", "Path").alias("path"),
        F.col("ev_long").alias("event_id"),
        F.col("ord.file").alias("f"),
        F.col("ord.start_time").alias("st"),
        F.col("ord.span_idx").alias("si"),
    )
    w = GraphWriter(spark)
    w.execute(
        """
        MERGE (p:Process {key:$pk})
        MERGE (f:File {path:$path})
        MERGE (p)-[r:CREATED_FILE]->(f)
        SET r.event_id = $event_id
        """,
        e11,
        order=["f", "st", "si"],
    )
    ours = rows(w.store.edges["CREATED_FILE"], "src", "dst", "event_id")
    ref = rows(
        g.edges.filter(F.col("rel") == "CREATED_FILE"), "src", "dst", "event_id"
    )
    assert ours and ours == ref
    # node side: every File the router knows from event 11 is present
    ref_files = rows(
        g.edges.filter(F.col("rel") == "CREATED_FILE").select(
            F.col("dst").alias("path")
        ).dropDuplicates(),
        "path",
    )
    assert rows(w.store.nodes["File"], "path") == ref_files


def test_reference_process_pipeline_replay(spark, trace_glob):
    """FLAGSHIP replay: the reference's process-merge core — the
    CYPHER["process"] template (events.py:79-92) for all three write
    classes (main span / parent stub / 8-10-25 target stub,
    events.py:300-320), the trace MERGE (events.py:75-77), and the
    spawn template (events.py:94-98) — executed as CYPHER TEXT through
    the generic GraphWriter over the derived span stream (the reference
    corpus where present, else written traces).  The resulting Process
    table (with its ON CREATE guid-omission quirk), HAS_PROCESS, and
    SPAWNS edge sets must equal the hand-built router's tables EXACTLY
    (golden on the corpus: 8921 processes, 10614 HAS_PROCESS, 10984
    SPAWNS)."""
    from graphdb_neo4j_spark.operators import build_graph
    from graphdb_neo4j_spark.operators.ingest import _derive
    from graphdb_neo4j_spark.sources.jaeger import read_spans, read_traces

    corpus = trace_glob
    golden = corpus.startswith("/root/reference/")
    g = build_graph(spark, corpus)
    spans = read_spans(spark, corpus)
    d = _derive(spans).persist()
    traces = read_traces(spark, corpus)

    def nulls(*cols):
        return [F.lit(None).cast("string").alias(c) for c in cols]

    ordc = [
        F.col("ord.file").alias("f"),
        F.col("ord.start_time").alias("st"),
        F.col("ord.span_idx").alias("si"),
    ]
    has_pkey = d.filter(F.col("pkey").isNotNull())
    main = has_pkey.select(
        F.col("pkey").alias("key"),
        F.col("guid").alias("ProcessGuid"),
        F.col("pguid").alias("ParentProcessGuid"),
        F.col("image"),
        F.col("cmd").alias("CommandLine"),
        F.col("trace_id").alias("traceID"),
        *ordc,
        F.lit(0).alias("wseq"),
    )
    parent = has_pkey.filter(F.col("parent_key").isNotNull()).select(
        F.col("parent_key").alias("key"),
        F.col("pguid").alias("ProcessGuid"),
        *nulls("ParentProcessGuid", "image", "CommandLine"),
        F.col("trace_id").alias("traceID"),
        *ordc,
        F.lit(1).alias("wseq"),
    )
    target = d.filter(
        F.col("ev").isin("8", "10", "25")
        & F.col("pkey").isNotNull()
        & F.col("dst_key").isNotNull()
    ).select(
        F.col("dst_key").alias("key"),
        F.col("dst_guid").alias("ProcessGuid"),
        *nulls("ParentProcessGuid", "image", "CommandLine"),
        F.col("trace_id").alias("traceID"),
        *ordc,
        F.lit(2).alias("wseq"),
    )
    writes = main.unionByName(parent).unionByName(target)

    w = GraphWriter(spark)
    w.execute(
        "MERGE (t:Trace {traceID: $traceID})",
        traces.select(F.col("trace_id").alias("traceID")),
    )
    w.execute(
        """
        MERGE (p:Process {key: $key})
          ON CREATE SET p.image = $image, p.CommandLine = $CommandLine
          ON MATCH SET
            p.ProcessGuid       = coalesce($ProcessGuid, p.ProcessGuid),
            p.ParentProcessGuid = coalesce($ParentProcessGuid, p.ParentProcessGuid),
            p.image             = coalesce($image, p.image),
            p.CommandLine       = coalesce($CommandLine, p.CommandLine)
        MATCH (t:Trace {traceID: $traceID})
        MERGE (t)-[hp:HAS_PROCESS]->(p)
        """,
        writes,
        order=["f", "st", "si", "wseq"],
    )
    spawns = has_pkey.filter(F.col("parent_key").isNotNull()).select(
        F.col("parent_key").alias("pk"), F.col("pkey").alias("ck")
    )
    w.execute(
        """
        MATCH (parent:Process {key: $pk})
        MATCH (child:Process {key: $ck})
        MERGE (parent)-[s:SPAWNS]->(child)
        """,
        spawns,
    )

    ours_proc = rows(
        w.store.nodes["Process"],
        "key", "image", "CommandLine", "ProcessGuid", "ParentProcessGuid",
    )
    ref_proc = rows(
        g.process,
        "key", "image", "command_line", "process_guid", "parent_process_guid",
    )
    if golden:
        assert len(ours_proc) == 8921
    assert ours_proc and ours_proc == ref_proc

    ours_hp = rows(w.store.edges["HAS_PROCESS"], "src", "dst")
    ref_hp = rows(
        g.edges.filter(F.col("rel") == "HAS_PROCESS").dropDuplicates(["src", "dst"]),
        "src", "dst",
    )
    if golden:
        assert len(ours_hp) == 10614
    assert ours_hp and ours_hp == ref_hp

    ours_sp = rows(w.store.edges["SPAWNS"], "src", "dst")
    ref_sp = rows(
        g.edges.filter(F.col("rel") == "SPAWNS").dropDuplicates(["src", "dst"]),
        "src", "dst",
    )
    if golden:
        assert len(ours_sp) == 10984
    assert ours_sp and ours_sp == ref_sp
    d.unpersist()


def test_write_read_roundtrip_cypher(spark):
    """Full Cypher ROUND-TRIP: build a graph with WRITE templates
    (GraphWriter), then query it with READ Cypher (operators/cypher.py)
    through GraphStore.cypher — properties written by SET resolve in
    WHERE/RETURN."""
    w = GraphWriter(spark)
    w.execute(
        """
        MERGE (c:Customer {key: $ck}) ON CREATE SET c.segment = $seg
        MERGE (o:Order {key: $ok})    ON CREATE SET o.status = $st
        MERGE (c)-[p:PLACED]->(o)     SET p.prio = $prio
        """,
        spark.createDataFrame(
            [
                (1, 100, "BUILDING", "F", "HIGH"),
                (1, 101, "BUILDING", "O", "LOW"),
                (2, 102, "AUTO", "F", "LOW"),
                (2, 103, "AUTO", "F", "HIGH"),
            ],
            "ck long, ok long, seg string, st string, prio string",
        ),
        order=["ok"],
    )
    got = rows(
        w.store.cypher(
            "MATCH (c:Customer)-[e:PLACED]->(o:Order) "
            "WHERE o.status = 'F' AND e.prio = 'HIGH' "
            "RETURN c AS customer, c.segment AS segment, count(o) AS n"
        ),
        "customer", "segment", "n",
    )
    assert got == [("1", "BUILDING", 1), ("2", "AUTO", 1)]

    # aggregate over a written property via WITH-pipeline
    got2 = rows(
        w.store.cypher(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) "
            "WITH c, count(o) AS orders WHERE orders > 1 "
            "RETURN c AS customer, orders"
        ),
        "customer", "orders",
    )
    assert got2 == [("1", 2), ("2", 2)]


def test_merge_before_failing_match_still_creates(spark, writer):
    """Clause order: a MERGE before a failing MATCH still executes —
    Neo4j runs clauses in order, so the MATCH only gates later clauses
    (regression: the gate used to suppress the whole row)."""
    writer.execute(
        "MERGE (t:Target {k:$t})",
        spark.createDataFrame([("T1",)], "t string"),
    )
    params = spark.createDataFrame(
        [(1, "A1", "T1"), (2, "A2", "MISSING")], "seq int, a string, t string"
    )
    writer.execute(
        """
        MERGE (a:Anchor {k:$a})
        MATCH (t:Target {k:$t})
        MERGE (a)-[r:HITS]->(t) SET r.event_id = $seq
        """,
        params,
        order=["seq"],
    )
    # both anchors exist (A2's MERGE ran before its MATCH failed) …
    assert rows(writer.store.nodes["Anchor"], "k") == [("A1",), ("A2",)]
    # … but only the matched row produced an edge
    assert rows(writer.store.edges["HITS"], "src", "dst", "event_id") == [
        ("A1", "T1", 1)
    ]


def test_remove_property(spark, writer):
    # seed the property, then REMOVE it in a later execute
    p1 = spark.createDataFrame([(1, "A", "secret")], "seq int, k string, v string")
    writer.execute("MERGE (n:N {key:$k}) SET n.v = $v", p1, order=["seq"])
    p2 = spark.createDataFrame([(1, "A")], "seq int, k string")
    writer.execute("MATCH (n:N {key:$k}) REMOVE n.v", p2, order=["seq"])
    assert rows(writer.store.nodes["N"], "key", "v") == [("A", None)]


def test_remove_rejects_labels_and_unbound():
    with pytest.raises(CypherWriteError):
        parse_write_template("MATCH (n:N {key:$k}) REMOVE n:Label")
    with pytest.raises(CypherWriteError):
        parse_write_template("MATCH (n:N {key:$k}) REMOVE m.v")
    t = parse_write_template("MATCH (n:N {key:$k}) REMOVE n.v, n.w")
    assert [(i.prop, i.value_sql, i.keep_old) for i in t.nodes[0].bare_set] == [
        ("v", "NULL", False), ("w", "NULL", False)
    ]


def test_delete_gated_in_clause_order(spark, writer):
    """A MATCH written AFTER a DELETE must not suppress it (in-order
    clause gating, same rule as SET/MERGE): here the second MATCH fails
    for the GHOST row, but the DELETE of node A precedes it in the
    template, so A is deleted anyway."""
    writer.execute(
        "MERGE (a:A {k:$a})",
        spark.createDataFrame([("a1",), ("a2",)], "a string"),
    )
    writer.execute(
        "MERGE (b:B {k:$b})",
        spark.createDataFrame([("b1",)], "b string"),
    )
    writer.execute(
        """
        MATCH (a:A {k:$a})
        DELETE a
        MATCH (b:B {k:$b})
        SET b.touched = $a
        """,
        spark.createDataFrame([("a1", "GHOST")], "a string, b string"),
    )
    # a1 deleted even though the LATER MATCH (b=GHOST) found nothing...
    assert rows(writer.store.nodes["A"], "k") == [("a2",)]
    # ...and the failing MATCH still suppressed its own SET
    assert rows(writer.store.nodes["B"], "k", "touched") == [("b1", None)]


def test_delete_suppressed_by_earlier_failing_match(spark, writer):
    """The converse: a failing MATCH BEFORE the DELETE suppresses it."""
    writer.execute(
        "MERGE (a:A {k:$a})",
        spark.createDataFrame([("a1",)], "a string"),
    )
    writer.execute(
        """
        MATCH (b:B {k:$b})
        MATCH (a:A {k:$a})
        DELETE a
        """,
        spark.createDataFrame([("GHOST", "a1")], "b string, a string"),
    )
    assert rows(writer.store.nodes["A"], "k") == [("a1",)]


# ---------------------------------------------------------------------------
# the grammar shared with the read side
# ---------------------------------------------------------------------------


def test_literal_merge_keys_hold_braces_and_commas(spark, writer):
    writer.execute("MERGE (p:Process {key: '{a-1}'}) SET p.image = 'x.exe'")
    writer.execute('MERGE (p:Process {key: "a,b"}) SET p.image = "y, z.exe"')
    assert rows(writer.store.nodes["Process"], "key", "image") == [
        ("a,b", "y, z.exe"), ("{a-1}", "x.exe")
    ]


def test_keyword_named_map_key_and_set_property(spark, writer):
    """``match`` inside a map and ``delete`` after ``.`` are names, not
    clause keywords."""
    p = spark.createDataFrame([(1, "A")], "seq int, k string")
    writer.execute("MERGE (n:N {match: $k}) SET n.delete = 1", p, order=["seq"])
    assert writer.store.node_keys["N"] == ["match"]
    assert rows(writer.store.nodes["N"], "match", "delete") == [("A", 1)]


def test_shared_grammar_errors_are_write_errors():
    with pytest.raises(CypherWriteError, match="bad property map entry"):
        parse_write_template("MERGE (n:N {k}) SET n.v = 1")
    with pytest.raises(CypherWriteError, match="clause keyword"):
        parse_write_template("(n:N {k: 1})")
    for bad in ("MERGE (a:A {k: 1}) MERGE (b:B {k: 2}) MERGE (a)-[:R*1..2]->(b)",
                "MERGE (a:A {k: 1}) MERGE (b:B {k: 2}) MERGE (a)-[:R]-(b)",
                "MERGE (a:A {k: 1}) MERGE (b:B {k: 2}) MERGE (a)-[:R]->(b:B)",
                "MERGE (:A {k: 1})", "MERGE (a {k: 1})", "MERGE (a:A)"):
        with pytest.raises(CypherWriteError):
            parse_write_template(bad)


def test_one_scanner_keeps_quote_and_bracket_state():
    """Of the Cypher read and write parsers, only the shared scanner
    compares characters against quotes or brackets; every splitter is
    built on it."""
    import ast
    import inspect

    from graphdb_neo4j_spark.operators import cypher, cypher_write

    marks = set("'\"()[]{}")
    stateful = set()
    for mod in (cypher, cypher_write):
        for fn in ast.walk(ast.parse(inspect.getsource(mod))):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Compare) and any(
                    isinstance(c, ast.Constant) and isinstance(c.value, str)
                    and set(c.value) & marks and set(c.value) <= marks | {"`"}
                    for c in [node.left, *node.comparators]
                ):
                    stateful.add(fn.name)
    assert stateful == {"_scan"}


def test_compact_releases_the_tables_it_replaces(spark, writer):
    """Each compact releases the frozen tables an execute replaced since
    the last one: 2 and 8 rounds of execute + compact hold the same
    persisted RDDs, and a compact with nothing replaced keeps its
    tables."""
    def persistent_ids() -> set[int]:
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().keySet().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    # compare ID sets, not counts: the ContextCleaner may release an
    # earlier test's blocks mid-test
    before = persistent_ids()
    held = []
    for n in range(1, 9):
        p = spark.createDataFrame([(n, f"k{n % 3}", n)], "seq int, k string, v int")
        writer.execute(
            "MERGE (a:N {key: $k}) SET a.v = $v MERGE (r:Root {key: 'root'}) "
            "MERGE (r)-[:R]->(a)", p, order=["seq"],
        )
        writer.store.compact()
        held.append(len(persistent_ids() - before))
    assert held[1] == held[7] == 3, held
    frozen = dict(writer.store.nodes)
    writer.store.compact()
    assert writer.store.nodes["N"] is frozen["N"]
    assert rows(writer.store.nodes["N"], "key", "v") == [("k0", 6), ("k1", 7), ("k2", 8)]
    assert rows(writer.store.edges["R"], "src", "dst") == [
        ("root", "k0"), ("root", "k1"), ("root", "k2")
    ]
