"""Spark SQL surface over the graph — the Neo4j-Browser replacement.

The reference's end state is "open http://localhost:7474 and type
Cypher" (main.py:19).  Here: register the graph tables as temp views
and type SQL.  :data:`ANALYST_QUERIES` ships the classic provenance
questions, each a direct translation of the Cypher an analyst would
have run, ready for ``spark.sql``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from graphdb_neo4j_spark.operators.ingest import PropertyGraph


def register_graph_views(spark: SparkSession, g: PropertyGraph) -> None:
    """Temp views: ``nodes``, ``edges``, ``process``, ``registry_value``,
    ``wmi_filter``, ``wmi_consumer`` (+ one view per edge type name)."""
    g.nodes().createOrReplaceTempView("nodes")
    g.edges.createOrReplaceTempView("edges")
    g.process.createOrReplaceTempView("process")
    g.registry_value.createOrReplaceTempView("registry_value")
    g.wmi_filter.createOrReplaceTempView("wmi_filter")
    g.wmi_consumer.createOrReplaceTempView("wmi_consumer")


# Cypher the analyst would have typed → the SQL they type now
# (tests/test_sql_surface.py checks each pair on the every-route graph).
ANALYST_QUERIES: dict[str, str] = {
    # MATCH (p:Process)-[:SPAWNS]->(c:Process)
    # WHERE lower(p.image) CONTAINS 'powershell' RETURN c.image, count(*)
    "children_of_powershell": """
        SELECT child.image, COUNT(*) AS n
        FROM edges e
        JOIN process parent ON e.src = parent.key
        JOIN process child ON e.dst = child.key
        WHERE e.rel = 'SPAWNS' AND lower(parent.image) LIKE '%powershell%'
        GROUP BY child.image ORDER BY n DESC
    """,
    # MATCH (p)-[:CONNECTED_TO]->(ip:Ip) RETURN ip, count(DISTINCT p)
    "top_contacted_addresses": """
        SELECT e.dst AS addr, COUNT(DISTINCT e.src) AS n_processes
        FROM edges e WHERE e.rel = 'CONNECTED_TO'
        GROUP BY e.dst ORDER BY n_processes DESC, addr
    """,
    # MATCH (a:Process)-[:SPAWNS]->(b)-[:CREATED_FILE]->(f) RETURN a.image, f
    "grandparent_file_drops": """
        SELECT p.image AS spawner_image, cf.dst AS file_path
        FROM edges s
        JOIN edges cf ON s.dst = cf.src AND cf.rel = 'CREATED_FILE'
        JOIN process p ON s.src = p.key
        WHERE s.rel = 'SPAWNS'
    """,
    # MATCH (p:Process) WHERE NOT (p)-[:SPAWNS]->() RETURN count(p)  (leaves)
    "leaf_processes": """
        SELECT COUNT(*) AS n FROM process p
        WHERE NOT EXISTS (
          SELECT 1 FROM edges e WHERE e.rel = 'SPAWNS' AND e.src = p.key)
    """,
    # MATCH (t:Trace)-[:HAS_PROCESS]->(p) RETURN t, count(p) AS n
    # ORDER BY n DESC, t LIMIT 20
    "busiest_traces": """
        SELECT e.src AS trace_id, COUNT(*) AS n_processes
        FROM edges e WHERE e.rel = 'HAS_PROCESS'
        GROUP BY e.src ORDER BY n_processes DESC, trace_id LIMIT 20
    """,
    # MATCH (p:Process)-[:SET_REG_VALUE]->(rv)-[:UNDER_KEY]->(rk)
    # WHERE lower(rk.key) CONTAINS 'run' RETURN p.image, rv
    "run_key_persistence": """
        SELECT p.image, srv.dst AS value_path
        FROM edges srv
        JOIN edges uk ON srv.dst = uk.src AND uk.rel = 'UNDER_KEY'
        JOIN process p ON srv.src = p.key
        WHERE srv.rel = 'SET_REG_VALUE' AND lower(uk.dst) LIKE '%run%'
    """,
}


def run_analyst_query(spark: SparkSession, name: str) -> DataFrame:
    return spark.sql(ANALYST_QUERIES[name])
