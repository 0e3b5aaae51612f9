"""Skew salting correctness + bucketed shuffle-free join plan test."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphdb_neo4j_spark.operators.skew import salted_join, two_phase_agg


@pytest.fixture(scope="module")
def skewed(spark):
    # one hot key (90%) + long tail
    rows = [(1, i) for i in range(900)] + [(k, k) for k in range(2, 102)]
    return spark.createDataFrame(rows, ["k", "v"])


def test_salted_join_matches_plain_join(spark, skewed):
    dim = spark.createDataFrame([(k, f"name{k}") for k in range(1, 102)], ["k", "name"])
    plain = skewed.join(dim, "k").groupBy("k").count()
    salted = salted_join(skewed, dim, on="k", salt=8).groupBy("k").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_left_outer(spark, skewed):
    dim = spark.createDataFrame([(1, "hot")], ["k", "name"])
    out = salted_join(skewed, dim, on="k", salt=4, how="left")
    assert out.count() == skewed.count()
    assert out.filter(F.col("name").isNull()).count() == 100  # tail unmatched


def test_two_phase_agg_matches_direct(spark, skewed):
    direct = {
        tuple(r)
        for r in skewed.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count("v").alias("c"), F.max("v").alias("m"))
        .collect()
    }
    salted = {
        tuple(r)
        for r in two_phase_agg(
            skewed, "k",
            {"s": ("v", "sum"), "c": ("v", "count"), "m": ("v", "max")},
            salt=8,
        ).collect()
    }
    assert direct == salted


def test_two_phase_agg_rejects_non_algebraic(spark, skewed):
    with pytest.raises(ValueError):
        two_phase_agg(skewed, "k", {"a": ("v", "avg")})


def test_bucketed_edges_join_without_exchange(spark, tmp_path, spawn_chain_trace):
    """A motif hop over the doubly-bucketed edge tables must plan with
    zero Exchange operators (the whole point of bucketing)."""
    from graphdb_neo4j_spark.operators.ingest import build_graph

    g = build_graph(spark, spawn_chain_trace)
    g.save_bucketed("t_bucket", buckets=8)
    # disable broadcast so the join must choose SMJ — on big data it
    # would anyway; the point is the bucketed scans satisfy the join's
    # distribution requirement with NO shuffle exchange
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        by_dst = spark.table("t_bucket_edges_by_dst").filter(F.col("rel") == "SPAWNS")
        by_src = spark.table("t_bucket_edges_by_src").filter(F.col("rel") == "SPAWNS")
        hop = by_dst.join(by_src, by_dst["dst"] == by_src["src"])
        hop.collect()
        plan = hop._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan
        assert hop.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
