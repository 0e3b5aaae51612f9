"""Golden-stats parity: the full reference corpus must reproduce the
measured node/edge counts bit-for-bit (SURVEY.md Appendix A).

These counts encode every semantic quirk of the reference ingester:
truthiness coalesce (520 dropped ppid=0 parents), the `"-"` hostname hub
node, dual-key parents (SPAWNS > HAS_PROCESS), DeleteValue →
DELETED_REG_KEY, POSIX basename, ON CREATE/ON MATCH asymmetry.
"""

from __future__ import annotations

import pytest

from graphdb_neo4j_spark.operators import build_graph

CORPUS = "/root/reference/malware/*.json"

GOLD_NODES = {
    "Trace": 1202,
    "Process": 8921,
    "File": 1830,
    "RegistryValue": 267,
    "RegistryKey": 150,
    "Ip": 87,
    "Pipe": 4,
}
GOLD_EDGES = {
    "SPAWNS": 10984,
    "HAS_PROCESS": 10614,
    "CREATED_FILE": 1869,
    "SET_REG_VALUE": 327,
    "INJECTED_THREAD": 293,
    "UNDER_KEY": 267,
    "CONNECTED_TO": 255,
    "MODIFIED_FILE_TIME": 48,
    "DELETED_REG_KEY": 5,
    "CREATED_PIPE": 4,
    "CONNECTED_PIPE": 4,
}


@pytest.fixture(scope="module")
def graph(spark, reference_corpus):
    return build_graph(spark, CORPUS)


def test_golden_node_counts(graph):
    assert graph.node_counts() == GOLD_NODES


def test_golden_edge_counts(graph):
    assert graph.edge_counts() == GOLD_EDGES


def test_dash_hostname_hub_exists(graph):
    # event 3 DestinationHostname="-" is truthy in Python → literal Ip node
    assert graph.simple.filter(
        (graph.simple.label == "Ip") & (graph.simple.key == "-")
    ).count() == 1


def test_staged_build_matches_golden(spark, graph, tmp_path):
    """build_graph via the parquet stage (cold write, then warm read)
    reproduces the exact golden counts — staging is a pure relayout."""
    stage = str(tmp_path / "stage")
    g_cold = build_graph(spark, CORPUS, stage_dir=stage)  # writes the stage
    assert g_cold.node_counts() == GOLD_NODES
    assert g_cold.edge_counts() == GOLD_EDGES
    g_warm = build_graph(spark, CORPUS, stage_dir=stage)  # reads the stage
    assert g_warm.node_counts() == GOLD_NODES
    assert g_warm.edge_counts() == GOLD_EDGES


def test_idempotency_under_reingest(spark, graph):
    """MERGE semantics: loading the corpus is idempotent — node/edge key
    sets do not change if the same data is ingested again (the batch
    rebuild is a pure function of the input set)."""
    g2 = build_graph(spark, CORPUS)
    assert g2.node_counts() == graph.node_counts()
    assert g2.edge_counts() == graph.edge_counts()
