"""Extension-operator tests over the real corpus + synthetic fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphdb_neo4j_spark.operators.enrich import (
    dns_edges,
    identity_stitch_mapping,
    logon_edges,
    process_lifetimes,
    stitch_graph,
)
from graphdb_neo4j_spark.operators.ingest import build_graph
from graphdb_neo4j_spark.sources.jaeger import read_spans

CORPUS = "/root/reference/malware/*.json"


@pytest.fixture(scope="module")
def spans(spark, reference_corpus):
    return read_spans(spark, CORPUS).persist()


def test_dns_edges_recover_event22(spark, spans):
    dns = dns_edges(spans).persist()
    queried = dns.filter(F.col("rel") == "QUERIED_DNS")
    resolved = dns.filter(F.col("rel") == "RESOLVED_TO")
    assert queried.count() > 0  # 1150 event-22 spans in corpus
    assert resolved.count() > 0
    # no ::ffff: prefixes or '-' survive normalization
    assert resolved.filter(
        F.col("dst").startswith("::ffff:") | (F.col("dst") == "-")
    ).count() == 0


def test_logon_edges_recover_security_events(spark, spans):
    lg = logon_edges(spans)
    rels = {r.rel for r in lg.select("rel").distinct().collect()}
    # corpus has 4624 (44), 4625 (4), 4648 (1)
    assert rels == {"LOGGED_ON", "LOGON_FAILED", "USED_EXPLICIT_CREDS"}


def test_process_lifetimes(spark, spans):
    lt = process_lifetimes(spans)
    both = lt.filter(F.col("lifetime_us").isNotNull())
    assert both.count() > 0
    assert both.filter(F.col("lifetime_us") < 0).count() == 0


def test_identity_stitching_reduces_dual_parents(spark, spans):
    g = build_graph(spark, CORPUS)
    mapping = identity_stitch_mapping(spans)
    assert mapping.count() > 0
    stitched = stitch_graph(g, mapping)
    # the 5244 dual-parent children should collapse dramatically
    def dual_parent_children(graph):
        sp = graph.edges.filter(F.col("rel") == "SPAWNS")
        return (
            sp.groupBy("dst").agg(F.count_distinct("src").alias("n"))
            .filter(F.col("n") >= 2)
            .count()
        )

    before = dual_parent_children(g)
    after = dual_parent_children(stitched)
    assert before > 5000
    assert after < before / 2
    # stitching only ever reduces node count
    assert stitched.process.count() < g.process.count()


def test_identity_intervals_pid_reuse(spark):
    """v2 stitching: one {trace}:{pid} alias maps to DIFFERENT GUIDs in
    different time windows (PID reuse); v1's min-GUID mapping cannot."""
    from graphdb_neo4j_spark.operators.enrich import (
        identity_intervals,
        resolve_aliases,
    )

    def span(idx, start, tags):
        return ("T", "f.json", idx, start, tags)

    rows = [
        # G-A lives [100, 200] as pid 100
        span(0, 100, {"ID": "1", "ProcessGuid": "G-A", "ProcessId": "100"}),
        span(1, 200, {"ID": "5", "ProcessGuid": "G-A"}),
        # pid 100 reused by G-B from t=300
        span(2, 300, {"ID": "1", "ProcessGuid": "G-B", "ProcessId": "100"}),
    ]
    spans = spark.createDataFrame(
        rows, "trace_id string, file string, span_idx int, start_time long, "
              "tags map<string,string>"
    )
    iv = identity_intervals(spans)
    by_guid = {r.canonical_key: (r.valid_from_us, r.valid_to_us)
               for r in iv.filter(F.col("alias_key") == "T:100").collect()}
    assert set(by_guid) == {"G-A", "G-B"}
    assert by_guid["G-A"][1] == 300  # A's window closes where B's opens
    assert by_guid["G-B"][0] == 300

    refs = spark.createDataFrame(
        [("T:100", 150), ("T:100", 350), ("T:999", 150)], ["key", "t"]
    )
    res = {(r.key, r.t): r.resolved_key
           for r in resolve_aliases(refs, iv).collect()}
    assert res[("T:100", 150)] == "G-A"
    assert res[("T:100", 350)] == "G-B"
    assert res[("T:999", 150)] == "T:999"  # unmapped stays itself


def test_build_stitched_graph_time_aware(spark):
    """End-to-end v2 stitching: pid-only spans fold into the GUID that
    owned the pid AT THAT TIME — a reused pid splits across two GUIDs."""
    from graphdb_neo4j_spark.operators.enrich import build_stitched_graph

    def span(idx, start, tags):
        return ("T", "f.json", idx, start, tags)

    rows = [
        # G-A owns pid 100 in [100, 200]
        span(0, 100, {"ID": "1", "ProcessGuid": "G-A", "ProcessId": "100",
                      "Image": "C:/a.exe"}),
        span(1, 200, {"ID": "5", "ProcessGuid": "G-A"}),
        # pid-only file-create at t=150 → must fold into G-A
        span(2, 150, {"ID": "11", "ProcessId": "100",
                      "TargetFilename": "early.txt"}),
        # G-B reuses pid 100 from t=300
        span(3, 300, {"ID": "1", "ProcessGuid": "G-B", "ProcessId": "100",
                      "Image": "C:/b.exe"}),
        # pid-only file-create at t=350 → must fold into G-B
        span(4, 350, {"ID": "11", "ProcessId": "100",
                      "TargetFilename": "late.txt"}),
    ]
    spans = spark.createDataFrame(
        rows, "trace_id string, file string, span_idx int, start_time long, "
              "tags map<string,string>"
    )
    traces = spans.select("trace_id").distinct()
    g = build_stitched_graph(traces, spans)
    created = {(r.src, r.dst) for r in
               g.edges.filter(g.edges.rel == "CREATED_FILE").collect()}
    assert ("G-A", "early.txt") in created
    assert ("G-B", "late.txt") in created
    # no T:100 alias node survives as an edge endpoint
    assert not any(s == "T:100" for s, _ in created)
