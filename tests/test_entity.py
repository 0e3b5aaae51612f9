"""Entity-resolution fixtures: a planted typo corpus with a union-find
Python oracle, blocking-recall behavior, and the giant-block guard."""

from __future__ import annotations

from pyspark.sql import functions as F

from graphdb_neo4j_spark.operators.entity import (
    candidate_pairs,
    resolve_entities,
)

RECORDS = [
    # cluster A: transitive chain — (1,2) dist 1, (2,3) dist 1,
    # (1,3) dist 2: all within max_dist=1 only via transitivity
    (1, "acme corp", "US"),
    (2, "acme corpx", "US"),
    (3, "acme corpxy", "US"),
    # cluster B: exact pair
    (4, "globex", "US"),
    (5, "globex", "US"),
    # singleton (near B but dist 3)
    (6, "globalex x", "US"),
    # cluster C in another block
    (7, "initech", "DE"),
    (8, "initech!", "DE"),
    # same name as C but different block -> must NOT merge
    (9, "initech", "FR"),
]


def _oracle_entities(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    ids = [r[0] for r in RECORDS]
    # min-id canonical labels
    out = {}
    for i in ids:
        root = find(i)
        members = [j for j in ids if find(j) == root]
        out[i] = min(members)
    return out


def _df(spark):
    return spark.createDataFrame(
        RECORDS, "rid long, name string, country string"
    )


def test_candidate_pairs_block_and_verify(spark):
    pairs, handle = candidate_pairs(
        _df(spark), "rid", "name", ["country"], max_dist=1
    )
    got = {(r.id_a, r.id_b): r.dist for r in pairs.collect()}
    handle.release()
    # chain pairs at dist 1; (1,3) dist 2 excluded; cross-block (7,9)/(8,9) excluded
    assert got == {(1, 2): 1, (2, 3): 1, (4, 5): 0, (7, 8): 1}


def test_resolve_entities_transitive_min_id(spark):
    res = {
        r.rid: r.entity_id
        for r in resolve_entities(
            _df(spark), "rid", "name", ["country"], max_dist=1
        ).collect()
    }
    expected = _oracle_entities([(1, 2), (2, 3), (4, 5), (7, 8)])
    assert res == expected
    # the transitive chain collapsed: 3 maps to 1 even though
    # levenshtein(1, 3) = 2 > max_dist
    assert res[3] == 1
    # same name, different block: no merge
    assert res[9] == 9


def test_multi_pass_blocking_recovers_cross_block_match(spark):
    # second blocking key (first name token) recovers the (7,9) match
    # that the country block alone loses
    res = {
        r.rid: r.entity_id
        for r in resolve_entities(
            _df(spark),
            "rid",
            "name",
            ["country", F.substring_index(F.col("name"), " ", 1)],
            max_dist=1,
        ).collect()
    }
    assert res[9] == 7 and res[8] == 7


def test_max_block_guard_drops_giant_block(spark):
    rows = [(i, "same name", "BLK") for i in range(50)]
    df = spark.createDataFrame(rows, "rid long, name string, country string")
    # cap below the block size -> no pairs at all
    pairs, handle = candidate_pairs(
        df, "rid", "name", ["country"], max_dist=1, max_block=10
    )
    assert pairs.count() == 0
    handle.release()
    # and every record resolves to itself
    res = resolve_entities(
        df, "rid", "name", ["country"], max_dist=1, max_block=10
    )
    assert res.filter(F.col("rid") != F.col("entity_id")).count() == 0


def test_candidate_pairs_block_join_keeps_parallelism(spark):
    """The block self-join must run at the session's parallelism, not
    the AQE-coalesced byte count: the keyed frame is tiny but the
    quadratic fan-out + per-pair levenshtein is CPU-bound, so the r10
    explicit repartition pins a user-count exchange on the block key
    (AQE never coalesces a user-specified partition count)."""
    from pyspark.sql import functions as F

    from graphdb_neo4j_spark.operators.entity import _block_pairs, candidate_pairs
    from graphdb_neo4j_spark.plans.audit import explain_str

    npart = spark.sparkContext.defaultParallelism
    # _block_pairs salts only while 0 < n_blocks < npart // 2: take 3
    # blocks where the session has 8+ slots, fewer on smaller hosts,
    # and 1 where no block count opens the gate (npart <= 3)
    n_blk = max(1, min(3, npart // 2 - 1))
    salted = n_blk < npart // 2
    rows = [(i, f"name{i % 7}x", f"b{i % n_blk}") for i in range(60)]
    df = spark.createDataFrame(rows, ["rid_in", "nm", "blk"])
    proj = df.select(
        F.col("rid_in").alias("rid"),
        F.col("nm").alias("name"),
        F.col("blk").alias("__bk0"),
    )
    plan = explain_str(_block_pairs(proj, 0, 2, 10_000))
    assert "hashpartitioning(bkey" in plan and f", {npart})" in plan, plan
    if salted:
        # the user-count exchange must carry the salted CELL key (r11:
        # bkey + sub-buckets, so one hot block splits s² ways instead of
        # landing whole in a single task) at the session's parallelism
        assert "__ui" in plan and "__uj" in plan, plan
    else:
        # too few slots to salt: the r10 single exchange on bkey alone
        assert "__ui" not in plan and "__uj" not in plan, plan
    # the salted cells must reproduce the exact unsalted pair set:
    # every (id_a < id_b) pair lands in exactly one (bucket_a,
    # bucket_b) cell
    got_pairs = sorted(
        (r.id_a, r.id_b)
        for r in _block_pairs(proj, 0, 2, 10_000).collect()
    )
    naive = proj.alias("a").join(
        proj.alias("b"),
        (F.col("a.__bk0") == F.col("b.__bk0"))
        & (F.col("a.rid") < F.col("b.rid"))
        & (F.abs(F.length(F.col("a.name")) - F.length(F.col("b.name"))) <= 2),
    ).select(F.col("a.rid").alias("id_a"), F.col("b.rid").alias("id_b"))
    assert got_pairs == sorted((r.id_a, r.id_b) for r in naive.collect())
    # and the operator end-to-end still yields the verified pair set
    pairs, handle = candidate_pairs(df, "rid_in", "nm", ["blk"], max_dist=2)
    try:
        got = pairs.collect()
        assert got and all(r.dist <= 2 for r in got)
    finally:
        handle.release()
