"""Local replica of the driver's DuckDB-oracle correctness harness.

For every query that declares an oracle: run the Spark DataFrame and the
DuckDB SQL on the same parquet, then compare row count, column names,
and the full (column-name-sorted, row-sorted) value multiset EXACTLY —
the driver hashes values, so approximate equality is not enough.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from graphdb_neo4j_spark.sources.tables import TABLE_NAMES
from graphdb_neo4j_spark.workloads import ORACLES, QUERY_FNS

SF_DIR = "/root/testdata/sf0.01"
# the reference trace corpus the graph-tier (g*) cases read
REFERENCE_MALWARE = "/root/reference/malware"


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def _canon(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    # None-safe total order (NULLs sort first within their column slot)
    return sorted(
        (tuple(_norm(row[i]) for i in order) for row in rows),
        key=lambda t: tuple((v is not None, str(v)) for v in t),
    )


def _reads_corpus(name: str) -> bool:
    """The graph-tier cases (``g*``) answer over the reference trace
    corpus (``workloads._corpus_graph`` / ``_corpus_derived``) against
    constants derived from it; every other case reads the sf tables."""
    return name.startswith("g")


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, ddb, name, request):
    if _reads_corpus(name):
        request.getfixturevalue("reference_corpus")
    sdf = QUERY_FNS[name](spark, SF_DIR)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = ddb.execute(ORACLES[name])
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), "column-name mismatch"
    assert len(spark_rows) == len(duck_rows), (
        f"row count: spark={len(spark_rows)} duckdb={len(duck_rows)}"
    )
    s = _canon(spark_rows, spark_cols)
    d = _canon(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(s, d) if a != b]
    assert not mismatches, f"{len(mismatches)} value mismatches; first: {mismatches[0]}"


def test_all_queries_run(spark):
    """Every queries() entry (incl. rows-only) returns a DataFrame with a
    stable schema and executes without error at small scale."""
    corpus = os.path.isdir(REFERENCE_MALWARE)
    for name, fn in QUERY_FNS.items():
        if name.startswith("g4"):
            continue  # corpus analytics exercised in test_corpus_analytics
        if _reads_corpus(name) and not corpus:
            continue  # answers over the reference corpus, absent here
        df = fn(spark, "/root/testdata/sf0.001")
        assert df.columns, name
        df.limit(5).collect()
