"""SQL analyst surface over the corpus graph."""

from __future__ import annotations

import pytest

from graphdb_neo4j_spark.operators.ingest import build_graph
from graphdb_neo4j_spark.sql import ANALYST_QUERIES, register_graph_views, run_analyst_query


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
