"""SQL analyst surface: each query equals its Cypher on the every-route
graph, and runs over the corpus graph."""

from __future__ import annotations

from collections import Counter

import pytest

from graphdb_neo4j_spark.operators.cypher import cypher
from graphdb_neo4j_spark.operators.graph import GraphQuery
from graphdb_neo4j_spark.operators.ingest import build_graph
from graphdb_neo4j_spark.sql import ANALYST_QUERIES, register_graph_views, run_analyst_query
from tests.test_property_parity import ALL_ROUTES, _build, _span

# a second trace in which PowerShell spawns a child, so that
# children_of_powershell has rows to compare
_POWERSHELL_SPAWN = {"traceID": "tB", "spans": [
    _span(0, ID=1, Image="C:\\w\\PowerShell.exe", ProcessGuid="G4",
          ParentProcessGuid="G5"),
    _span(1, ID=1, Image="C:\\w\\b.exe", ProcessGuid="G6", ParentProcessGuid="G4"),
]}

# the Cypher of each ANALYST_QUERIES entry (its comment), written to ask
# exactly the SQL's question
ANALYST_CYPHER = {
    "children_of_powershell":
        "MATCH (p:Process)-[:SPAWNS]->(c:Process) "
        "WHERE lower(p.image) CONTAINS 'powershell' "
        "RETURN c.image AS image, count(*) AS n",
    "top_contacted_addresses":
        "MATCH (p)-[:CONNECTED_TO]->(ip:Ip) "
        "RETURN ip AS addr, count(DISTINCT p) AS n_processes",
    "grandparent_file_drops":
        "MATCH (a:Process)-[:SPAWNS]->(b)-[:CREATED_FILE]->(f) "
        "RETURN a.image AS spawner_image, f AS file_path",
    "leaf_processes":
        "MATCH (p:Process) WHERE NOT (p)-[:SPAWNS]->() RETURN count(p) AS n",
    "busiest_traces":
        "MATCH (t:Trace)-[:HAS_PROCESS]->(p) "
        "RETURN t AS trace_id, count(p) AS n_processes "
        "ORDER BY n_processes DESC, trace_id LIMIT 20",
    "run_key_persistence":
        "MATCH (p:Process)-[:SET_REG_VALUE]->(rv)-[:UNDER_KEY]->(rk) "
        "WHERE lower(rk.key) CONTAINS 'run' "
        "RETURN p.image AS image, rv AS value_path",
}


def test_analyst_sql_equals_its_cypher(spark, tmp_path):
    """Differential check of the Cypher lowering against the hand SQL:
    on the graph of one trace that fires every ingest route (all 23
    relationships, all 10 labels) plus a PowerShell spawn, each analyst
    query and its Cypher return the same non-empty rows as multisets."""
    g, _ = _build(spark, tmp_path, ALL_ROUTES + [_POWERSHELL_SPAWN])
    try:
        register_graph_views(spark, g)
        gq = GraphQuery.from_graph(g)
        assert set(ANALYST_CYPHER) == set(ANALYST_QUERIES)
        for name, q in ANALYST_CYPHER.items():
            want = Counter(map(tuple, run_analyst_query(spark, name).collect()))
            got = Counter(map(tuple, cypher(gq, q, props={"Process": g.process}).collect()))
            assert want and got == want, name
    finally:
        g.unpersist()


@pytest.fixture(scope="module")
def graph_views(spark, reference_corpus):
    g = build_graph(spark, "/root/reference/malware/*.json")
    register_graph_views(spark, g)
    return g


def test_all_analyst_queries_run(spark, graph_views):
    for name in ANALYST_QUERIES:
        df = run_analyst_query(spark, name)
        assert df.columns, name
        df.limit(5).collect()


def test_children_of_powershell_nonempty(spark, graph_views):
    rows = run_analyst_query(spark, "children_of_powershell").collect()
    assert len(rows) > 0
    assert sum(r.n for r in rows) > 0


def test_leaf_processes_sane(spark, graph_views):
    n_leaves = run_analyst_query(spark, "leaf_processes").collect()[0].n
    n_total = graph_views.process.count()
    assert 0 < n_leaves < n_total


def test_busiest_traces_matches_golden_shape(spark, graph_views):
    rows = run_analyst_query(spark, "busiest_traces").collect()
    assert len(rows) == 20
    assert rows[0].n_processes >= rows[-1].n_processes
