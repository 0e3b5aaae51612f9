"""Physical-plan assertions: pushdown, broadcast, partial agg, codegen.

Correct results through a bad plan fail here — the 100 TB discipline.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphdb_neo4j_spark.plans import (
    explain_str,
    has_broadcast_join,
    pushed_filters,
    wholestage_codegen_spans,
)
from graphdb_neo4j_spark.sources.tables import load_table
from graphdb_neo4j_spark.workloads import QUERY_FNS

SF = "/root/testdata/sf0.01"


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = load_table(spark, SF, "lineitem").filter(F.col("l_quantity") >= 48).select(
        "l_orderkey", "l_quantity"
    )
    filters = pushed_filters(df)
    assert any("l_quantity" in f for f in filters), filters
    # column pruning: ReadSchema carries only the 2 projected columns
    plan = explain_str(df)
    assert "l_extendedprice" not in plan.split("ReadSchema")[1][:300]


def test_q05_broadcasts_dimensions(spark):
    df = QUERY_FNS["q05_region_nation_revenue"](spark, SF)
    assert has_broadcast_join(df)


def test_q01_has_partial_aggregate(spark):
    df = QUERY_FNS["q01_pricing_summary"](spark, SF)
    plan = explain_str(df)
    assert "partial" in plan.lower()  # map-side combine before the shuffle
    assert "Exchange" in plan


def test_q01_date_filter_pushed(spark):
    df = QUERY_FNS["q01_pricing_summary"](spark, SF)
    assert any("l_shipdate" in f for f in pushed_filters(df))


def test_queries_stay_in_codegen(spark):
    for name in ["q01_pricing_summary", "q04_order_priority_semijoin"]:
        df = QUERY_FNS[name](spark, SF)
        assert wholestage_codegen_spans(df) >= 1, name


def test_lsh_index_probe_prunes_partitions(spark, tmp_path):
    """The materialized LSH index read must be partition-pruned: the
    (lsh_table, bucket) probe appears in PartitionFilters, and the
    indexed probe returns exactly what the scan-based probe returns."""
    from graphdb_neo4j_spark.operators.similarity import (
        lsh_index_write,
        topk_lsh,
        topk_lsh_indexed,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 0).head()[1])
    path = str(tmp_path / "lsh_idx")
    lsh_index_write(emb, path, dims=len(q))

    probe = topk_lsh_indexed(spark, path, q, k=10, dims=len(q))
    plan = explain_str(probe)
    pf = plan.split("PartitionFilters")[1][:400]
    assert "lsh_table" in pf and "bucket" in pf

    scan_based = [(r.id, r.sim) for r in topk_lsh(emb, q, k=10, dims=len(q)).collect()]
    indexed = [(r.id, r.sim) for r in probe.collect()]
    assert indexed == scan_based


def test_ivf_index_probe_prunes_partitions(spark, tmp_path):
    from graphdb_neo4j_spark.operators.similarity import (
        ivf_index_write,
        topk_ivf,
        topk_ivf_indexed,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 0).head()[1])
    path = str(tmp_path / "ivf_idx")
    ivf_index_write(emb, path, n_centroids=8, dims=len(q))

    probe = topk_ivf_indexed(spark, path, q, k=10, n_probe=3, dims=len(q))
    plan = explain_str(probe)
    pf = plan.split("PartitionFilters")[1][:400]
    assert "centroid_id" in pf

    direct = [(r.id, r.sim) for r in
              topk_ivf(emb, q, k=10, n_centroids=8, n_probe=3, dims=len(q)).collect()]
    indexed = [(r.id, r.sim) for r in probe.collect()]
    assert indexed == direct


def test_q27_lsh_single_scan(spark):
    """All 4 LSH tables' signatures come from ONE scan of the
    embeddings parquet (plus the candidate re-rank scan) — not 4."""
    df = QUERY_FNS["q27_ann_lsh_topk"](spark, SF)
    plan = explain_str(df)
    assert plan.count("embeddings.parquet") <= 2, plan


def test_motif_two_hop_zero_shuffle_on_bucketed_tables(spark, spawn_chain_trace):
    """GraphQuery.find over the doubly-bucketed edge orientations plans
    a 2-hop chain with NO shuffle Exchange: both join sides arrive
    pre-bucketed on their join keys."""
    from graphdb_neo4j_spark.operators.graph import GraphQuery
    from graphdb_neo4j_spark.operators.ingest import build_graph

    g = build_graph(spark, spawn_chain_trace)
    g.save_bucketed(name_prefix="audit_graph", buckets=8)
    gq = GraphQuery.load_bucketed(spark, nodes=g.nodes(), name_prefix="audit_graph")

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = gq.find("(a)-[SPAWNS]->(b); (b)-[HAS_PROCESS]->(c)")
        plan = explain_str(df)
        # formatted plans put "Exchange" and its "hashpartitioning(...)"
        # argument on separate lines — match the argument, not the pair
        assert "hashpartitioning(" not in plan, plan
        # and it still answers correctly (joins actually line up)
        assert df.count() >= 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_graph_rel_filter_prunes_partitions(spark, tmp_path, spawn_chain_trace):
    from graphdb_neo4j_spark.operators.ingest import build_graph

    g = build_graph(spark, spawn_chain_trace)
    out = str(tmp_path / "g")
    g.save(out)
    edges = spark.read.parquet(f"{out}/edges")
    plan = explain_str(edges.filter(F.col("rel") == "SPAWNS"))
    assert "PartitionFilters" in plan and "rel" in plan.split("PartitionFilters")[1][:200]


def test_ingest_routes_each_table_in_one_generate(spark, tmp_path, write_traces):
    """The ingest routes every span through ONE Generate per graph
    table over the span cache: the optimized plans of ``edges`` and
    ``simple`` each hold exactly one Generate, it reads the cache, and
    no Union has more than 3 children — so the router cannot grow back
    into one filter+select branch per event route."""
    from graphdb_neo4j_spark.operators.ingest import build_graph
    from graphdb_neo4j_spark.plans.audit import _jchildren

    def nodes_named(root, name):
        out, stack = [], [root]
        while stack:
            n = stack.pop()
            if n.nodeName() == name:
                out.append(n)
            stack.extend(_jchildren(n))
        return out

    g = build_graph(spark, write_traces(tmp_path))
    try:
        for table, df in (("edges", g.edges), ("simple", g.simple)):
            root = df._jdf.queryExecution().optimizedPlan()
            gens = nodes_named(root, "Generate")
            assert len(gens) == 1, (table, root.toString())
            assert nodes_named(gens[0], "InMemoryRelation"), (table, root.toString())
            widths = [len(_jchildren(u)) for u in nodes_named(root, "Union")]
            assert max(widths, default=0) <= 3, (table, widths)
    finally:
        g.unpersist()


def test_build_graph_unpersist_releases_its_caches(spark, tmp_path, write_traces):
    """Release contract: ``build_graph`` persists the parsed traces and
    the span cache; ``PropertyGraph.unpersist()`` frees both, and the
    tables still answer afterwards (recomputed from the source)."""
    from graphdb_neo4j_spark.operators.ingest import build_graph

    def persistent_ids() -> set[int]:
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().keySet().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    # compare ID sets, not counts: the ContextCleaner may release an
    # earlier test's blocks mid-test
    before = persistent_ids()
    g = build_graph(spark, write_traces(tmp_path))
    n_edges = g.edges.count()
    assert len(persistent_ids() - before) == 2
    g.unpersist()
    assert not persistent_ids() - before
    assert g.edges.count() == n_edges


def test_q40_grouping_sets_single_expand(spark):
    """GROUPING SETS must plan as ONE Expand + one aggregate over one
    scan — not a union of four groupBys."""
    df = QUERY_FNS["q40_grouping_sets_revenue"](spark, SF)
    plan = explain_str(df)
    assert plan.count("Expand") >= 1
    assert plan.count("orders.parquet") == 1
    assert "Union" not in plan


def test_q41_range_frame_single_window_shuffle(spark):
    """RANGE-frame rolling stats: exactly one Exchange (the window
    partition on user_id) and a Window node with both aggregates."""
    df = QUERY_FNS["q41_range_frame_rolling"](spark, SF)
    plan = explain_str(df)
    assert plan.count("hashpartitioning(") == 1
    assert "Window" in plan and "specifiedwindowframe(RangeFrame" in plan


def test_q39_correlated_subquery_decorrelated(spark):
    """Catalyst must decorrelate the scalar subqueries into aggregates
    + joins — no per-row subquery execution plan nodes."""
    df = QUERY_FNS["q39_correlated_scalar_subquery"](spark, SF)
    plan = explain_str(df)
    assert "Subquery" not in plan.split("== Physical Plan ==")[-1][:4000] or \
           "Join" in plan
    assert "Aggregate" in plan or "HashAggregate" in plan


def test_q47_token_cap_single_window_shuffle(spark):
    df = QUERY_FNS["q47_token_budget_cap"](spark, SF)
    plan = explain_str(df)
    # window on source + final groupBy on source share partitioning →
    # expect at most 2 hash exchanges, and only one scan of documents
    assert plan.count("documents.parquet") == 1
    assert plan.count("hashpartitioning(") <= 2


def test_q51_chunking_no_shuffle(spark):
    """Chunking is a map-side explode fused into the scan: zero
    Exchange nodes in the plan."""
    df = QUERY_FNS["q51_chunk_documents"](spark, SF)
    plan = explain_str(df)
    assert "Exchange" not in plan, plan[:800]


def test_q50_tfidf_partial_agg_and_broadcast_scalar(spark):
    """TF-IDF: tf/dfreq aggregate partially map-side; the corpus-size
    scalar rides a broadcast, never a shuffle."""
    from graphdb_neo4j_spark.plans import has_partial_aggregate

    df = QUERY_FNS["q50_tfidf_top_terms"](spark, SF)
    assert has_partial_aggregate(df)
    assert has_broadcast_join(df)


def test_q52_walk_frontier_joins_broadcast_adjacency_or_shuffle_once(spark):
    """Random-walk steps are equi-joins of the frontier against the
    adjacency aggregate — never a nested-loop/cartesian plan."""
    df = QUERY_FNS["q52_random_walks"](spark, SF)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q58_hll_is_scan_agg_fold(spark):
    """HLL plan: one scan, a 256-group partial aggregate, a scalar
    fold — and the md5/register math stays in codegen."""
    df = QUERY_FNS["q58_hll_distinct_orderkeys"](spark, SF)
    plan = explain_str(df)
    assert "partial" in plan.lower()
    # one scan NODE: the parquet path prints once per scan's Location
    assert plan.count("lineitem.parquet") == 1
    assert wholestage_codegen_spans(df) >= 1


def test_q60_quality_filter_no_shuffle(spark):
    """Quality gate is scan+project only: no Exchange anywhere."""
    df = QUERY_FNS["q60_quality_filter"](spark, SF)
    plan = explain_str(df)
    # the only Exchange is the deliberate round-robin spread of the
    # single-file input; no hash shuffle anywhere
    assert "hashpartitioning" not in plan, plan


def test_q59_cms_probe_broadcasts_counters(spark):
    """The ≤4096-cell counter matrix must broadcast to the probe."""
    df = QUERY_FNS["q59_cms_heavy_hitters"](spark, SF)
    assert has_broadcast_join(df)


def test_q62_quantiles_single_partition_shuffle(spark):
    """Both window passes share one (event_type) partitioning: exactly
    one hash Exchange on the group key before the windows."""
    df = QUERY_FNS["q62_group_quantiles"](spark, SF)
    plan = explain_str(df)
    # Exchange arguments print once per node in formatted mode
    assert plan.count("hashpartitioning(event_type") == 1, plan


def test_q64_link_prediction_broadcasts_degrees(spark):
    """Degree tables (≤ n_customers rows) broadcast onto the wedge
    join; the top-k is TakeOrdered, not a global sort."""
    df = QUERY_FNS["q64_link_prediction_customers"](spark, SF)
    plan = explain_str(df)
    assert has_broadcast_join(df)
    assert "TakeOrderedAndProject" in plan


def test_q65_profile_single_scan(spark):
    """Profiling reads the table once — multi-column count_distinct
    plans one Expand over a single scan, not one scan per column."""
    df = QUERY_FNS["q65_profile_events"](spark, SF)
    plan = explain_str(df)
    assert plan.count("events.parquet") == 1
    assert "Expand" in plan


def test_q69_scorer_no_hash_shuffle(spark):
    """Feature vector + linear score is a pure projection: the only
    Exchange is the deliberate round-robin input spread."""
    df = QUERY_FNS["q69_quality_feature_score"](spark, SF)
    plan = explain_str(df)
    assert "hashpartitioning" not in plan, plan


def test_q68_overlap_moves_only_hashes(spark):
    """Both KMV samples are map-side top-k folds (TakeOrdered), not
    full sorts of the input."""
    df = QUERY_FNS["q68_kmv_user_overlap"](spark, SF)
    plan = explain_str(df)
    assert plan.count("TakeOrderedAndProject") >= 2, plan


def test_q70_histogram_no_single_partition_window(spark):
    """Bucket assignment comes from the distributed contiguous index,
    never a SinglePartition NTILE window.  The production path
    localCheckpoints the range-partitioned intermediate (which truncates
    the visible plan), so the range shuffle is asserted on the
    un-checkpointed variant of the same builder."""
    df = QUERY_FNS["q70_equidepth_histogram"](spark, SF)
    plan = explain_str(df)
    assert "SinglePartition" not in plan, plan

    from graphdb_neo4j_spark.operators.order import contiguous_index

    events = load_table(spark, SF, "events")
    raw, _ = contiguous_index(events, ["value", "event_id"], checkpoint=False)
    raw_plan = explain_str(raw)
    assert "rangepartitioning" in raw_plan, raw_plan
    assert "SinglePartition" not in raw_plan, raw_plan


def test_q71_weighted_sample_is_takeordered(spark):
    """Sampling k of N must be a TakeOrdered top-k, never a global sort
    of the corpus."""
    df = QUERY_FNS["q71_weighted_sample_docs"](spark, SF)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_q73_repeated_passages_plan(spark):
    """Substring dedup stays bucketed: the postings self-join is an
    equi-join on the gram hash (no cartesian/broadcast-nested-loop),
    and the hot-gram guard is a BROADCAST anti-join."""
    df = QUERY_FNS["q73_repeated_passages"](spark, SF)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_varlen_motif_plan_no_cartesian(spark):
    """[REL*1..3] expands to chained equi-joins — never a cartesian
    product, and the chain reads the edge table, not per-depth copies
    of the raw input."""
    from graphdb_neo4j_spark.operators.graph import GraphQuery

    edges = spark.createDataFrame(
        [("R", f"n{i}", f"n{i+1}") for i in range(20)], ["rel", "src", "dst"]
    )
    nodes = edges.select(F.lit("N").alias("label"), F.col("src").alias("key"))
    gq = GraphQuery(nodes=nodes, edges=edges)
    plan = explain_str(gq.find("(a)-[R*1..3]->(b)"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --------------------------------------------------------------------------
# round 3 session 2: TPC-H subquery block, similarity, quantile sketch
# --------------------------------------------------------------------------

def test_q77_partial_agg_and_broadcast_dims(spark):
    # the (part,supp) cost agg must partial-combine map-side; part and
    # supplier dims must broadcast (never shuffle lineitem on a dim key)
    df = QUERY_FNS["q77_min_cost_supplier"](spark, SF)
    plan = explain_str(df)
    assert "partial" in plan.lower()
    assert has_broadcast_join(df)


def test_q79_or_predicate_keeps_hash_join_and_pushes_filters(spark):
    # the disjunction must NOT degrade the equi-join to nested-loop, and
    # the single-side conjuncts must reach the scans
    df = QUERY_FNS["q79_disjunctive_predicate_revenue"](spark, SF)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert any("l_quantity" in f for f in pushed_filters(df))


def test_q81_anti_join_on_prefiltered_orders(spark):
    df = QUERY_FNS["q81_sales_opportunity"](spark, SF)
    plan = explain_str(df)
    assert "LeftAnti" in plan
    # the o_totalprice prefilter must reach the orders scan
    assert any("o_totalprice" in f for f in pushed_filters(df))


def test_q83_topk_is_takeordered_not_global_sort(spark):
    df = QUERY_FNS["q83_supplier_part_jaccard"](spark, SF)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan


def test_q85_sample_is_takeordered_no_full_table_window(spark):
    # bottom-k by hash must be TakeOrderedAndProject; the only window
    # runs over the k sample rows AFTER the limit, never the full table
    df = QUERY_FNS["q85_hash_sample_quantiles"](spark, SF)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan
    # the Window must sit ABOVE the TakeOrdered (i.e. over the k sample
    # rows), and there must be no range-partitioned global sort shuffle
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")
    assert "rangepartitioning" not in plan.lower()


def test_q90_broadcasts_all_dims_single_lineitem_scan(spark):
    df = QUERY_FNS["q90_market_share"](spark, SF)
    plan = explain_str(df)
    assert has_broadcast_join(df)
    # one pass over the fact table (formatted plans name each scan twice:
    # once in the tree, once in the node details)
    assert plan.count("lineitem.parquet") <= 2
    assert "partial" in plan.lower()


def test_q91_distinct_count_has_partial_dedup(spark):
    df = QUERY_FNS["q91_parts_supplier_counts"](spark, SF)
    plan = explain_str(df)
    # COUNT(DISTINCT) lowers to a two-phase aggregate (partial on the
    # (group, suppkey) pairs) and the top-20 is TakeOrdered
    assert "partial" in plan.lower()
    assert "TakeOrderedAndProject" in plan


def test_q87_cypher_compiles_to_broadcast_joins(spark):
    # the Cypher text must produce the same join shape a hand-written
    # DataFrame chain would: hash/broadcast joins, no nested loop
    df = QUERY_FNS["q87_cypher_order_graph"](spark, SF)
    plan = explain_str(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q93_single_corpus_scan(spark):
    # the LM table and the scoring join both derive from ONE persisted
    # per-doc bigram aggregate — the corpus text is read exactly once
    df = QUERY_FNS["q93_bigram_logprob"](spark, SF)
    plan = explain_str(df)
    assert plan.count("documents.parquet") == 1


def test_q96_nation_pair_filter_before_big_joins(spark):
    # both nation dims broadcast; the supplier-nation filter prunes
    # BEFORE the orders/customer shuffles; no cartesian anywhere
    df = QUERY_FNS["q96_volume_shipping"](spark, SF)
    plan = explain_str(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q97_part_filter_pushed_to_scan(spark):
    # the p_name LIKE filter must reach the part parquet scan
    df = QUERY_FNS["q97_product_type_profit"](spark, SF)
    plan = explain_str(df)
    idx = plan.find("part.parquet")
    assert idx != -1
    assert "p_name" in plan, plan[:500]
    filters = pushed_filters(df)
    assert any("p_name" in f for f in filters), filters


def test_q98_scalar_total_is_broadcast(spark):
    # the grand-total side of the HAVING compare is a 1-row broadcast,
    # not a shuffle join or a cartesian re-scan
    df = QUERY_FNS["q98_important_stock"](spark, SF)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in explain_str(df)


def test_q100_left_join_preserves_partial_agg(spark):
    # two stacked aggregations: the per-customer count keeps a partial
    # (map-side) phase before the exchange
    df = QUERY_FNS["q100_customer_distribution"](spark, SF)
    plan = explain_str(df)
    assert plan.count("HashAggregate") >= 4  # partial+final × 2 levels


def test_q102_shared_partkey_shuffle(spark):
    # the per-part aggregate and the probe join key on the same column;
    # lineitem is scanned exactly twice (probe + aggregate), never more
    df = QUERY_FNS["q102_small_quantity_revenue"](spark, SF)
    plan = explain_str(df)
    assert plan.count("lineitem.parquet") == 2
    assert "CartesianProduct" not in plan


def test_q104_semdedup_centroids_broadcast(spark):
    # the k-row centroid table broadcasts into the n×k assignment —
    # the only join wide enough to matter is BroadcastNestedLoopJoin
    # by construction (cross join with a k-row build side); the
    # quadratic verify must be an equi hash join on cluster id, and
    # the prune an anti join
    df = QUERY_FNS["q104_semantic_dedup"](spark, SF)
    plan = explain_str(df)
    assert "BroadcastNestedLoopJoin" in plan  # k-row centroid cross join
    assert "CartesianProduct" not in plan


def test_q111_single_scan_fanout(spark):
    # the 4-level sweep reads documents ONCE (broadcast level fan-out),
    # never one scan per threshold
    df = QUERY_FNS["q111_quality_threshold_sweep"](spark, SF)
    plan = explain_str(df)
    assert plan.count("documents.parquet") == 1


def test_cypher_pattern_count_no_cartesian(spark):
    # size((p)-[:R]->()) lowers to a grouped count left join — never a
    # nested-loop or cartesian product
    from graphdb_neo4j_spark.operators.cypher import cypher
    from graphdb_neo4j_spark.operators.graph import GraphQuery

    nodes = spark.createDataFrame(
        [("X", "a"), ("X", "b")], ["label", "key"]
    )
    edges = spark.createDataFrame(
        [("R", "a", "b", 1)], ["rel", "src", "dst", "event_id"]
    )
    g = GraphQuery(nodes=nodes, edges=edges)
    df = cypher(
        g, "MATCH (p:X) RETURN p, size((p)-[:R]->()) AS deg"
    )
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q136_dsir_ratio_table_broadcasts(spark):
    """The 1024-row DSIR ratio model must broadcast onto the token
    stream (no shuffle of the exploded tokens for the model join), and
    documents are scanned a bounded number of times."""
    df = QUERY_FNS["q136_dsir_importance"](spark, SF)
    assert has_broadcast_join(df)


def test_q137_butterfly_pair_agg_is_partial(spark):
    """The per-pair overlap aggregate must partial-aggregate map-side
    before its shuffle (wedge streams combine locally)."""
    df = QUERY_FNS["q137_butterfly_count"](spark, SF)
    plan = explain_str(df)
    assert "partial" in plan.lower()


def test_q139_funnel_single_user_shuffle(spark):
    """All funnel window passes share ONE hashpartitioning(user_id)
    exchange — the sequential running-max passes must not re-shuffle
    per step."""
    df = QUERY_FNS["q139_window_funnel"](spark, SF)
    plan = explain_str(df)
    assert plan.count("hashpartitioning(user_id") == 1, plan[
        plan.find("Exchange") : plan.find("Exchange") + 400
    ]


def test_q148_ohlc_single_exchange_for_windows_and_agg(spark):
    """Both OHLC rank windows and the final aggregate reuse ONE
    hashpartitioning(event_type, hour_epoch) exchange — opposite sort
    orders must re-sort, not re-shuffle."""
    df = QUERY_FNS["q148_ohlc_hourly"](spark, SF)
    plan = explain_str(df)
    assert plan.count("hashpartitioning(event_type") == 1, plan


def test_q149_cube_is_expand_plus_one_shuffle(spark):
    """CUBE compiles to an Expand node feeding a partial hash agg —
    one scan of the join output, one aggregate exchange, no union of
    four grouped plans."""
    df = QUERY_FNS["q149_cube_revenue"](spark, SF)
    plan = explain_str(df)
    assert "Expand" in plan, plan
    assert plan.count("Union") == 0, plan


def test_q152_cusum_single_type_shuffle(spark):
    """Prefix sum, both running extrema, and the final per-type rollup
    share one hashpartitioning(event_type) exchange."""
    df = QUERY_FNS["q152_cusum_changepoint"](spark, SF)
    plan = explain_str(df)
    assert plan.count("hashpartitioning(event_type") == 1, plan


def test_q154_pipeline_broadcasts_eval_grams_no_cartesian(spark):
    """The curation pipeline's decontamination leg must broadcast the
    eval-gram set (MB-scale at any corpus size) and the composed plan
    must contain no cartesian product.

    Inspects curate()'s PRE-checkpoint verdict frame — the q154 wrapper
    consumes in-query (localCheckpoint + release), which truncates the
    returned plan to a bare RDD scan, so the wrapper's output carries
    no plan to audit."""
    from pyspark.sql import functions as F

    from graphdb_neo4j_spark.pipeline import curate
    from graphdb_neo4j_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    ev = docs.filter(F.col("doc_id") % 53 == 0)
    res = curate(docs, ev)
    plan = explain_str(res.labeled)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan, plan
    assert has_broadcast_join(res.labeled)
    res.release()


def test_checkpoint_eager_reliable_flag_switches_plan(spark):
    """r11 freeze recovery contract: checkpoint_eager(reliable=True)
    must freeze via an eager RELIABLE Dataset.checkpoint (survives
    executor loss; no executor-local persisted blocks) while the
    default stays localCheckpoint (one persisted RDD, released by the
    handle).  Values identical either way."""
    from graphdb_neo4j_spark.operators.order import checkpoint_eager

    def persistent_ids() -> set[int]:
        jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
        it = jmap.keySet().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    df = spark.range(100).withColumn("v", F.col("id") * 2)

    before = persistent_ids()
    loc, lh = checkpoint_eager(df)
    assert persistent_ids() - before, "local freeze must persist blocks"
    node = loc._jdf.queryExecution().analyzed()
    assert node.nodeName() == "LogicalRDD"
    assert node.rdd().isLocallyCheckpointed()

    before = persistent_ids()
    rel, rh = checkpoint_eager(df, reliable=True)
    assert not (persistent_ids() - before), (
        "reliable freeze must not hold executor-local persisted blocks"
    )
    rnode = rel._jdf.queryExecution().analyzed()
    assert rnode.nodeName() == "LogicalRDD"
    assert not rnode.rdd().isLocallyCheckpointed()
    assert rnode.rdd().getCheckpointFile().isDefined()  # reliable files
    assert sorted(map(tuple, rel.collect())) == sorted(map(tuple, loc.collect()))
    lh.release()
    rh.release()  # no-op by contract


def test_curate_quality_base_scrubs_once_no_join(spark):
    """r11: the pipeline's base stage fuses the PII scrub and the
    quality verdict into ONE projection chain over the scan — the
    scrub chain must be evaluated exactly once per row (the r4-r10
    failure mode was per-stat re-evaluation: the <email> sentinel
    appearing in N subexpressions), the tokenizer split exactly twice
    (raw + lowered), and no join may re-attach text to the verdict.
    Runs against the shared production helper (pipeline.quality_base),
    not a hand-rebuilt copy."""
    from graphdb_neo4j_spark.operators.text import pii_scrub
    from graphdb_neo4j_spark.pipeline import quality_base

    docs = spark.createDataFrame(
        [(1, "reach me at someone@example.com with words enough")],
        ["doc_id", "text"],
    )
    scr = pii_scrub(docs.select("doc_id", "text"), keep_cols=["doc_id"])
    extra = ["n_email", "n_ssn", "n_ipv4", "n_phone"]
    fused = quality_base(
        scr.select(
            "doc_id", F.col("text_scrubbed").alias("text"), *extra
        ),
        id_col="doc_id",
        text_col="text",
        extra=extra,
    )
    plan = explain_str(fused)
    assert plan.count("<email>") == 1, plan.count("<email>")
    assert plan.count("split(") == 2, plan.count("split(")
    assert "Join" not in plan, "quality_base must not join"
    assert "Exchange" not in plan, "quality_base must stay shuffle-free"


def test_q155_bm25_broadcasts_stats_and_takeordered(spark):
    """BM25: df + corpus stats are broadcast scalars, the top-k is a
    TakeOrdered (no global sort), postings aggregate partial-combines."""
    df = QUERY_FNS["q155_bm25_topk"](spark, SF)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert has_broadcast_join(df)
    assert "partial" in plan.lower()


def test_q156_rrf_no_cartesian_and_bounded_windows(spark):
    """RRF fuse joins two ≤k-row legs: no cartesian product; the rank
    windows only ever run on TakeOrdered outputs."""
    df = QUERY_FNS["q156_rrf_hybrid_topk"](spark, SF)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("TakeOrderedAndProject") >= 2, plan


def test_q157_seasonality_aggregates_before_window(spark):
    """The trend window's input is the post-rollup hourly series (the
    hourly aggregate partial-combines map-side), and the chunked trend
    window is partitioned by segment — NO single-partition exchange
    anywhere in the plan."""
    df = QUERY_FNS["q157_hourly_seasonality"](spark, SF)
    plan = explain_str(df)
    assert "partial" in plan.lower()
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(seg" in plan, plan


def test_q159_heavy_hitters_recount_is_broadcast_semi(spark):
    """The exact recount aggregates only candidate tokens: the
    candidate set joins as a broadcast, and the final count still
    partial-combines map-side."""
    df = QUERY_FNS["q159_heavy_hitter_terms"](spark, SF)
    plan = explain_str(df)
    assert has_broadcast_join(df)
    assert "partial" in plan.lower()
    assert "CartesianProduct" not in plan, plan


def _plan_tree(df) -> str:
    """Tree section of the formatted plan (node names appear once here;
    the details section repeats each)."""
    plan = explain_str(df)
    return plan.split("\n\n")[0]


def test_q160_pii_scrub_is_codegen_single_agg(spark):
    """Injection + 4 regexp counts + mask chain are one codegen
    projection over the scan; the ONLY exchange is the per-source
    aggregate (with map-side partial combine)."""
    df = QUERY_FNS["q160_pii_scrub_audit"](spark, SF)
    tree = _plan_tree(df)
    assert tree.count("Exchange") == 1, tree
    assert "partial" in explain_str(df).lower()
    assert wholestage_codegen_spans(df) >= 1


def test_q162_concentration_two_aggs_no_join(spark):
    df = QUERY_FNS["q162_source_concentration"](spark, SF)
    tree = _plan_tree(df)
    assert "Join" not in tree, tree
    assert tree.count("Exchange") <= 2, tree
    assert "partial" in explain_str(df).lower()


def test_q165_dup_matrix_single_hash_join(spark):
    """The pair enumeration is ONE equi-join keyed on the text hash —
    text itself never shuffles (only (h, source) pairs move)."""
    df = QUERY_FNS["q165_cross_source_dup_matrix"](spark, SF)
    tree = _plan_tree(df)
    joins = (
        tree.count("SortMergeJoin")
        + tree.count("ShuffledHashJoin")
        + tree.count("BroadcastHashJoin")
        + tree.count("BroadcastNestedLoopJoin")
    )
    assert joins == 1, tree
    assert "SinglePartition" not in explain_str(df)


def test_q161_curriculum_no_single_partition(spark):
    """Distributed NTILE: the plan that runs before the internal
    checkpoint has a range exchange, never a single-partition window.
    (The checkpointed result itself is 4 rows.)"""
    from graphdb_neo4j_spark.operators.order import contiguous_index

    d = load_table(spark, SF, "documents").select(
        "doc_id", F.length("text").alias("neg_score")
    )
    raw, _ = contiguous_index(d, ["neg_score", "doc_id"], checkpoint=False)
    plan = explain_str(raw)
    assert "rangepartitioning" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_q166_linkpred_no_cartesian_takeordered(spark):
    """Wedge join and degree joins are all equi-joins; the top-50 is a
    TakeOrdered, never a global sort.

    r10: the query itself now freezes the support-pruned edge set and
    eager-materializes the 50-row result (releasing the edge blocks
    in-query), so its RETURNED plan is a LogicalRDD scan — assert that
    contract, and audit the join/top-k shape on the PRODUCTION lazy
    scores pipeline via the shared helper (ADVICE r10: a hand-rebuilt
    copy would silently keep passing if the query body drifted)."""
    from graphdb_neo4j_spark.workloads import _q166_scores

    df = QUERY_FNS["q166_link_prediction_copurchase"](spark, SF)
    assert "ExistingRDD" in explain_str(df)  # frozen 50-row result
    assert df.count() <= 50

    scores, handle = _q166_scores(spark, SF)
    try:
        plan = explain_str(scores)
        assert "CartesianProduct" not in plan, plan
        assert "TakeOrderedAndProject" in plan, plan
    finally:
        handle.release()


def test_q167_phrase_filters_below_joins(spark):
    """Postings are filtered to the phrase's own terms before any
    exchange — the corpus text never rides a shuffle."""
    df = QUERY_FNS["q167_phrase_search"](spark, SF)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan, plan
    for t in ("slow", "hash", "batch"):
        assert f"= {t}" in plan, (t, plan)


def test_q168_drift_totals_are_broadcast(spark):
    """Row/column/grand totals join the cell frame as broadcasts; no
    single-partition stage anywhere."""
    df = QUERY_FNS["q168_categorical_drift_cells"](spark, SF)
    plan = explain_str(df)
    tree = _plan_tree(df)
    assert tree.count("BroadcastHashJoin") + tree.count(
        "BroadcastNestedLoopJoin"
    ) == 3, tree
    assert "SortMergeJoin" not in tree, tree
    assert "partial" in plan.lower()


def test_q169_mad_medians_broadcast_back(spark):
    """Both per-type median frames come back as broadcast joins over
    the events scan; the outlier count has a partial aggregate."""
    df = QUERY_FNS["q169_mad_outliers"](spark, SF)
    tree = _plan_tree(df)
    # 3, not 2: the deviation branch re-derives its median join inside
    # the MAD aggregate's lineage (uncached on purpose — events scans
    # are cheaper than a 100 TB cache)
    assert tree.count("BroadcastHashJoin") == 3, tree
    assert "SortMergeJoin" not in tree, tree


def test_q170_histogram_quantiles_no_single_partition(spark):
    """Both aggregations are map-side combined; the cumulative window
    partitions by group (<= nbins rows each) — no single-partition
    stage, per-group stats ride broadcasts."""
    df = QUERY_FNS["q170_histogram_quantiles"](spark, SF)
    plan = explain_str(df)
    tree = _plan_tree(df)
    assert "SinglePartition" not in plan, plan
    assert "partial" in plan.lower()
    assert tree.count("BroadcastHashJoin") >= 1, tree
    assert "SortMergeJoin" not in tree, tree


def test_q171_calibration_single_agg_no_join(spark):
    """The anchor vector is inlined as literals: one embeddings scan,
    one 10-row hash-agg, no joins."""
    df = QUERY_FNS["q171_score_calibration"](spark, SF)
    tree = _plan_tree(df)
    assert "Join" not in tree, tree
    assert tree.count("Exchange") <= 1, tree
    assert "partial" in explain_str(df).lower()


def test_q172_entity_resolution_blocking_never_cartesian(spark):
    """The pair enumeration is an equi-join on the blocking key — no
    cartesian product anywhere in the plan."""
    df = QUERY_FNS["q172_entity_resolution"](spark, SF)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan, plan


def test_q173_cohorts_user_keyed_join_then_tiny_agg(spark):
    """No cartesian, no single-partition; the distinct-count grid agg
    partial-combines map-side."""
    df = QUERY_FNS["q173_retention_cohorts"](spark, SF)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan and "SinglePartition" not in plan
    assert "partial" in plan.lower()


def test_q174_transitions_one_window_partition_by_user(spark):
    """Exactly one window, partitioned by user — never a global-order
    window; the totals frame rides a broadcast."""
    df = QUERY_FNS["q174_event_transitions"](spark, SF)
    plan = explain_str(df)
    tree = _plan_tree(df)
    # 2, not 1: the totals branch re-derives the sequence window in
    # its own lineage (uncached on purpose); both are user-partitioned
    assert tree.count("Window") == 2, tree
    assert "SinglePartition" not in plan, plan
    assert tree.count("BroadcastHashJoin") == 1, tree


def test_q175_diversity_single_signature_scan(spark):
    """One documents scan feeds the 16-lane unpivot; collision and
    count frames are scalar broadcasts — never a pair join."""
    df = QUERY_FNS["q175_corpus_diversity_minhash"](spark, SF)
    plan = explain_str(df)
    assert plan.count("documents.parquet") <= 2, plan
    assert "CartesianProduct" not in plan, plan
    assert "partial" in plan.lower()


def test_q176_integrity_all_antijoins_broadcast(spark):
    """Every orphan check is a broadcast LEFT ANTI against its
    dimension — no sort-merge joins anywhere."""
    tree = _plan_tree(QUERY_FNS["q176_referential_integrity"](spark, SF))
    assert "SortMergeJoin" not in tree, tree
    assert tree.count("BroadcastHashJoin") >= 7, tree


def test_q177_interpolation_aggregates_before_windows(spark):
    """The hourly pre-aggregation shrinks data to the bucket grid
    BEFORE the IGNORE-NULLS windows; both windows partition by type —
    no single-partition stage."""
    df = QUERY_FNS["q177_linear_interpolation"](spark, SF)
    plan = explain_str(df)
    assert "SinglePartition" not in plan, plan
    assert "partial" in plan.lower()


def test_q178_fd_audit_no_joins(spark):
    """Each FD check is aggregation-only: no joins anywhere."""
    tree = _plan_tree(QUERY_FNS["q178_fd_audit"](spark, SF))
    assert "Join" not in tree, tree


def test_q179_asof_lookup_no_joins_no_single_partition(spark):
    """The SCD2 lookup is the union-window as-of: four user-partitioned
    windows, TWO exchanges (dimension build + as-of union), and NO join
    operator at all — the interval join the oracle states never
    materializes."""
    df = QUERY_FNS["q179_scd2_asof_lookup"](spark, SF)
    plan = explain_str(df)
    tree = _plan_tree(df)
    assert "Join" not in tree, tree
    assert "SinglePartition" not in plan, plan
    # 4 logical window specs; Spark may split the shared-spec pair
    assert 4 <= tree.count("Window") <= 5, tree
    assert tree.count("Exchange") == 2, tree


def test_q180_golden_record_single_shuffle(spark):
    """Survivorship is ONE shuffle on user_id: all three window frames
    and the rn=1 pick share the same sorted partition; no joins."""
    df = QUERY_FNS["q180_golden_record"](spark, SF)
    tree = _plan_tree(df)
    assert "Join" not in tree, tree
    assert tree.count("Exchange") == 1, tree
    assert "SinglePartition" not in explain_str(df)


def test_q181_burst_dedup_groupby_reuses_window_partitioning(spark):
    """The per-burst aggregate groups on a superset of the window key,
    so Catalyst reuses the (user, type) partitioning — one exchange for
    the whole query, map-side partial agg, no joins."""
    df = QUERY_FNS["q181_burst_dedup"](spark, SF)
    tree = _plan_tree(df)
    assert tree.count("Exchange") == 1, tree
    assert "Join" not in tree, tree
    assert "partial" in explain_str(df).lower()


def test_q182_vocab_is_takeordered_and_broadcast(spark):
    """Top-1000 vocab is TakeOrdered (never a global sort) and rides a
    broadcast back onto the token stream."""
    df = QUERY_FNS["q182_vocab_oov_audit"](spark, SF)
    tree = _plan_tree(df)
    assert "TakeOrderedAndProject" in tree, tree
    assert tree.count("BroadcastHashJoin") == 1, tree
    assert "SortMergeJoin" not in tree, tree
    assert "Sort [cnt" not in explain_str(df), "global sort leaked"


def test_q183_contamination_profile_broadcast_only(spark):
    """Eval-id anti-join and eval-gram membership join BOTH broadcast —
    the corpus side is one exploded scan, never sort-merge joined."""
    df = QUERY_FNS["q183_contamination_profile"](spark, SF)
    tree = _plan_tree(df)
    assert tree.count("BroadcastHashJoin") == 2, tree
    assert "SortMergeJoin" not in tree, tree
    assert "partial" in explain_str(df).lower()


def test_q184_centroid_drift_partial_agg_broadcast_counts(spark):
    """(label, pos) nano sums aggregate with map-side partials; the
    per-label count frame joins by broadcast; no window, no cartesian,
    no single-partition stage."""
    df = QUERY_FNS["q184_embedding_centroid_drift"](spark, SF)
    plan = explain_str(df)
    tree = _plan_tree(df)
    assert tree.count("BroadcastHashJoin") == 1, tree
    assert "CartesianProduct" not in tree, tree
    assert "Window" not in tree, tree
    assert "SinglePartition" not in plan, plan
    assert "partial" in plan.lower()


def test_q185_trigrams_one_window_then_cells(spark):
    """Two LEADs share one user-partitioned window; the trigram agg is
    a cells-sized hash-agg with partials — no joins."""
    df = QUERY_FNS["q185_event_trigram_patterns"](spark, SF)
    tree = _plan_tree(df)
    plan = explain_str(df)
    assert tree.count("Window") == 1, tree
    assert "Join" not in tree, tree
    assert "SinglePartition" not in plan, plan
    assert "partial" in plan.lower()


def test_q186_rfm_releases_index_checkpoints(spark):
    """Three distributed-NTILE index checkpoints are released in-query
    (q70's consume-in-query contract): repeated runs leave only the
    ≤64-cell result blocks behind."""
    from graphdb_neo4j_spark.workloads import QUERY_FNS as Q

    jsc = spark.sparkContext._jsc.sc()
    before = {i.id() for i in jsc.getRDDStorageInfo()}
    for _ in range(2):
        Q["q186_rfm_segmentation"](spark, "/root/testdata/sf0.001").collect()
    infos = [i for i in jsc.getRDDStorageInfo() if i.id() not in before]
    for i in infos:
        assert i.memSize() + i.diskSize() < 64 * 1024, (
            str(i.name()), i.memSize(), i.diskSize()
        )


def test_q187_winsorize_single_priority_shuffle(spark):
    """Rank/count windows and the final aggregate share the 5-key
    priority partitioning; the 5-row cut frame broadcasts back — one
    data-sized exchange, never sort-merge."""
    df = QUERY_FNS["q187_winsorized_revenue"](spark, SF)
    tree = _plan_tree(df)
    assert tree.count("BroadcastHashJoin") == 1, tree
    assert "SortMergeJoin" not in tree, tree
    assert tree.count("Window") == 2, tree
    assert "SinglePartition" not in explain_str(df)


def test_q188_kn_bigrams_no_cartesian_partial_aggs(spark):
    """Bigram/marginal tables are hash-aggs with map-side partials;
    the scalar type count rides a broadcast (its 1-row agg is the only
    single-partition stage); no cartesian product anywhere."""
    df = QUERY_FNS["q188_kneser_ney_bigrams"](spark, SF)
    plan = explain_str(df)
    tree = _plan_tree(df)
    assert "CartesianProduct" not in tree, tree
    assert "partial" in plan.lower()
    # the only SinglePartition exchange feeds the 1-row scalar count
    assert plan.count("SinglePartition") <= 2, plan


def test_q189_conversion_lag_agg_only(spark):
    """Two conditional MINs in ONE user-keyed hash-agg (no window
    pass), then a cells regroup — no joins, no single partition."""
    df = QUERY_FNS["q189_conversion_lag"](spark, SF)
    tree = _plan_tree(df)
    plan = explain_str(df)
    assert "Join" not in tree, tree
    assert "Window" not in tree, tree
    assert "SinglePartition" not in plan, plan
    assert "partial" in plan.lower()


def test_q190_gini_broadcast_dim_shared_nation_partition(spark):
    """Customer→nation is a broadcast; rank/count windows and the Gini
    fold share the nation partitioning — no sort-merge join, no
    single-partition stage."""
    df = QUERY_FNS["q190_revenue_gini"](spark, SF)
    tree = _plan_tree(df)
    assert tree.count("BroadcastHashJoin") == 1, tree
    assert "SortMergeJoin" not in tree, tree
    assert "SinglePartition" not in explain_str(df)


def test_q191_cohort_ltv_no_cartesian(spark):
    """First-order epoch joins back on the aggregation key (broadcast
    at this SF; co-partitioned at scale) — never cartesian, partial
    aggs everywhere."""
    df = QUERY_FNS["q191_cohort_ltv"](spark, SF)
    plan = explain_str(df)
    tree = _plan_tree(df)
    assert "CartesianProduct" not in tree, tree
    assert "partial" in plan.lower()
    assert "SinglePartition" not in plan, plan


def test_q192_balance_single_shuffle_arrow_scan(spark):
    """The clamp recurrence is ONE user-keyed exchange into ONE
    Arrow-grouped scan (FlatMapGroupsInPandas) — the designated
    escape-hatch shape, nothing else in the plan."""
    df = QUERY_FNS["q192_clamped_running_balance"](spark, SF)
    tree = _plan_tree(df)
    assert "FlatMapGroupsInPandas" in tree, tree
    assert tree.count("Exchange") == 1, tree
    assert "Join" not in tree, tree


def test_q193_anomalies_stats_broadcast(spark):
    """Counts shrink to the (type, hour) grid before anything joins;
    the 5-row stats frame is a broadcast; the z-test is pure
    integer/decimal codegen — no window, no single partition."""
    df = QUERY_FNS["q193_hourly_rate_anomalies"](spark, SF)
    tree = _plan_tree(df)
    plan = explain_str(df)
    assert tree.count("BroadcastHashJoin") == 1, tree
    assert "Window" not in tree, tree
    assert "SinglePartition" not in plan, plan
    assert "partial" in plan.lower()


def test_q194_entry_exit_one_user_shuffle(spark):
    """All four window passes (gap flag, session id, first/last frame,
    rn) nest on the user_id partitioning: exactly two exchanges total
    (user shuffle + final cells regroup), no joins."""
    df = QUERY_FNS["q194_session_entry_exit"](spark, SF)
    tree = _plan_tree(df)
    assert tree.count("Exchange") == 2, tree
    assert "Join" not in tree, tree
    assert tree.count("Window") == 4, tree


def test_q195_harmonic_broadcasts_all_dimensions(spark):
    """The 4-table edge derivation broadcasts orders/customer/supplier
    onto the lineitem scan and shrinks to nation pairs BEFORE any
    iteration — no sort-merge join in the derivation plan."""
    l = load_table(spark, SF, "lineitem")
    o = load_table(spark, SF, "orders")
    c = load_table(spark, SF, "customer")
    s = load_table(spark, SF, "supplier")
    e0 = (
        l.select("l_orderkey", "l_suppkey")
        .join(F.broadcast(o.select("o_orderkey", "o_custkey")),
              l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(F.col("s_nationkey").alias("a"),
                F.col("c_nationkey").alias("b"))
        .distinct()
    )
    tree = _plan_tree(e0)
    assert tree.count("BroadcastHashJoin") == 3, tree
    assert "SortMergeJoin" not in tree, tree


def test_q196_assortativity_src_join_reuses_degree_partitioning(spark):
    """Edges join their own degree tables: the src-keyed join reuses
    the out-degree partitioning, so only the dst-keyed join adds an
    exchange; the 6-moment fold is the lone single-partition stage
    and carries 6 numbers."""
    df = QUERY_FNS["q196_degree_assortativity"](spark, SF)
    plan = explain_str(df)
    assert plan.count("SinglePartition") <= 2, plan
    assert "CartesianProduct" not in plan, plan
    assert "partial" in plan.lower()


def test_q199_weighted_median_single_group_shuffle(spark):
    """Cumulative + total windows and the conditional fold share the
    priority partitioning; the orders projection broadcasts onto the
    lineitem scan."""
    df = QUERY_FNS["q199_weighted_median"](spark, SF)
    tree = _plan_tree(df)
    assert tree.count("BroadcastHashJoin") == 1, tree
    assert "SortMergeJoin" not in tree, tree
    assert "SinglePartition" not in explain_str(df)


def test_q201_share_report_no_global_window(spark):
    """Percent-of-total with NO single-partition window: the global
    total is a 1×1 broadcast; the only windows partition by region."""
    df = QUERY_FNS["q201_revenue_share_report"](spark, SF)
    plan = explain_str(df)
    tree = _plan_tree(df)
    # the scalar total's own 1-row agg is the only SinglePartition
    assert plan.count("SinglePartition") <= 2, plan
    assert tree.count("BroadcastHashJoin") >= 3, tree
    assert "SortMergeJoin" not in tree, tree


def test_q202_sketch_audit_register_shuffle_only(spark):
    """The HLL side shuffles register rows (bounded per group), the
    exact side is the COUNT(DISTINCT) being certified; both sides
    aggregate with partials and join on the 5-row group key."""
    df = QUERY_FNS["q202_sketch_accuracy_audit"](spark, SF)
    plan = explain_str(df)
    assert "partial" in plan.lower()
    assert "CartesianProduct" not in plan, plan


def test_q206_sequences_one_user_shuffle(spark):
    """Sessionize + per-session fold nest on one user shuffle; the
    journey count is a cells-sized hash-agg."""
    df = QUERY_FNS["q206_session_sequences"](spark, SF)
    tree = _plan_tree(df)
    assert "Join" not in tree, tree
    assert tree.count("Window") == 2, tree
    assert "SinglePartition" not in explain_str(df)


def test_q207_dwell_single_window(spark):
    """Both LEADs share one user window; |types|^2 cells agg."""
    df = QUERY_FNS["q207_transition_dwell_times"](spark, SF)
    tree = _plan_tree(df)
    assert tree.count("Window") == 1, tree
    assert "Join" not in tree, tree
    assert "partial" in explain_str(df).lower()


def test_q208_growth_windows_only_on_day_cells(spark):
    """The running total's single partition holds #days rows (post
    aggregation) — the documented bucket-series exception; everything
    data-sized aggregates with partials first."""
    df = QUERY_FNS["q208_daily_growth_accounting"](spark, SF)
    plan = explain_str(df)
    assert "partial" in plan.lower()
    assert "CartesianProduct" not in plan, plan


def test_curate_upstream_executes_once(spark):
    """The curate() verdict union must NOT re-execute its upstream per
    branch (VERDICT r4: the un-pinned scrub re-ran ~6x — 103.8s at
    sf0.1).  Plan-string counting can't see this (every
    InMemoryTableScan prints its relation's child plan), so count
    RUNTIME input scans with an accumulator-tagged source: the corpus
    rows must cross the input boundary exactly once — the pinned scrub
    is the only consumer of the raw input, and every verdict branch
    reads caches."""
    from graphdb_neo4j_spark.pipeline import curate

    n = 200
    acc = spark.sparkContext.accumulator(0)

    def tag(it):
        for r in it:
            acc.add(1)
            yield r

    rdd = spark.sparkContext.parallelize(
        [(i, f"the quick brown fox jumps over a lazy dog number {i} "
              f"mail{i}@example.com and more filler words here")
         for i in range(n)],
        4,
    ).mapPartitions(tag)
    docs = spark.createDataFrame(rdd, "doc_id bigint, text string")
    # eval set from an UNTAGGED twin so contamination's eval-gram scan
    # doesn't pollute the count
    ev = spark.createDataFrame(
        [(i, f"the quick brown fox jumps over a lazy dog number {i} "
              f"mail{i}@example.com and more filler words here")
         for i in range(0, n, 7)],
        "doc_id bigint, text string",
    )

    res = curate(docs, ev, pii=True)
    assert len(res.cached) >= 3
    # cached holds persisted frames + the packing checkpoint handle
    assert all(
        d.is_cached for d in res.cached if hasattr(d, "is_cached")
    )
    # the packing stage must NOT collapse to a global window — the
    # distributed prefix-sum path partitions on __pid (range shuffle)
    from graphdb_neo4j_spark.plans import explain_str

    assert "SinglePartition" not in explain_str(res.labeled)
    got = res.labeled.count()
    assert got == n
    # one pass: the eager scrub pin; every later stage reads a cache
    assert acc.value == n, (
        f"input scanned {acc.value / n:.1f}x — upstream recompute "
        "amplification is back"
    )
    res.release()
    assert not res.cached


def test_curate_unpersists_on_midbuild_exception(spark, monkeypatch):
    """ADVICE r5: curate() pins up to 6 stage frames while building the
    plan; an exception mid-build (injected here at the near-dup stage)
    must unpersist every already-pinned frame before propagating —
    the caller never receives a CurationResult to release."""
    import pytest as _pytest

    from graphdb_neo4j_spark import pipeline as P
    from graphdb_neo4j_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"some document text number {i} with enough words to pass")
         for i in range(20)],
        ["doc_id", "text"],
    )
    def persistent_ids() -> set[int]:
        jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
        it = jmap.keySet().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    # compare ID SETS, not counts: the shared session's ContextCleaner
    # asynchronously unpersists earlier tests' blocks, so a global
    # count can legally DROP mid-test (full-suite flake); a leak means
    # a NEW id survives the exception
    before = persistent_ids()

    def boom(*a, **k):
        raise RuntimeError("injected near-dup failure")

    monkeypatch.setattr(dedup, "neardup_clusters", boom)
    with _pytest.raises(RuntimeError, match="injected"):
        P.curate(docs, neardup=True, pii=True)
    leaked = persistent_ids() - before
    assert not leaked, (
        f"stage frames leaked past the mid-build exception: RDD ids {leaked}"
    )


def test_partitioned_cache_layout_visible_to_joins(spark):
    """r7 regression guard for the Louvain −54%/round fix: a frame laid
    out with partitioned_cache must expose its hash-partitioning and
    sort order to downstream plans — the cached side of a key join
    plans NO per-query Exchange and NO Sort between the
    InMemoryTableScan and the join (a checkpointed frame scans as
    UnknownPartitioning and re-exchanges every round, the r5/r6 bug).
    Executed (post-AQE) plan, not explain(); the cache's ONE-TIME
    build plan (REPARTITION_BY_NUM inside the InMemoryRelation) is
    not counted — it runs once, not per query."""
    from pyspark.sql import functions as F

    from graphdb_neo4j_spark.operators.traversal import partitioned_cache

    e = spark.range(5000).select(
        (F.col("id") % 97).alias("dst"), (F.col("id") % 53).alias("src"),
        F.lit(1).cast("bigint").alias("w"),
    )
    und = partitioned_cache(e, "dst")
    try:
        # checkpoint-scan partner (unknown stats, like the per-round
        # assignment) so the join cannot be planned broadcast-by-stats
        asg = (
            spark.range(97)
            .select(F.col("id").alias("dst"), (F.col("id") * 2).alias("c"))
            .localCheckpoint()
        )
        j = und.join(asg.hint("merge"), "dst").groupBy("src", "c").count()
        j.count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        # per-query exchanges are the ENSURE_REQUIREMENTS ones: exactly
        # two — the asg side onto dst and the aggregate onto (src, c).
        per_query_ex = [l for l in lines if "ENSURE_REQUIREMENTS" in l]
        assert len(per_query_ex) == 2, plan
        assert any("hashpartitioning(dst" in l for l in per_query_ex), plan
        assert any("hashpartitioning(src" in l for l in per_query_ex), plan
        # nothing but a Filter may sit between the join and the cached
        # scan: no Sort, no Exchange on the cached branch
        ji = next(i for i, l in enumerate(lines) if "SortMergeJoin" in l)
        si = next(i for i, l in enumerate(lines) if "InMemoryTableScan" in l)
        between = lines[ji + 1: si]
        assert not any("Sort" in l or "Exchange" in l for l in between), plan
    finally:
        und.unpersist()


def test_url_normalize_plan_stays_jvm_side(spark):
    """q220's claim: URL canonicalization is a pure Catalyst chain —
    no Python evaluation node anywhere in the plan, and the one
    exchange in the frontier-count query is the window on the
    ALREADY-canonical key (canonicalize-then-shuffle)."""
    from graphdb_neo4j_spark.operators.url import (
        registrable_domain,
        url_host,
        url_normalize,
    )

    df = spark.createDataFrame(
        [(i, f"HTTP://Example{i % 3}.COM:80/a/../b?utm_source=x&z={i}")
         for i in range(100)],
        "url_id long, url string",
    )
    out = df.select(
        url_normalize(F.col("url")).alias("canon"),
        registrable_domain(url_host(F.col("url"))).alias("domain"),
    )
    plan = explain_str(out)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "pythonUDF"):
        assert marker not in plan, f"Python boundary in URL plan: {marker}"
    assert "Exchange" not in plan  # map-only projection, zero shuffle


def test_robots_allowed_plan_stays_jvm_side(spark):
    """q221's claim: robots verdicts are a join + window, no Python
    evaluation node — the per-row pattern regexes are built by
    Catalyst string ops and matched with a column-pattern RLIKE."""
    from graphdb_neo4j_spark.operators.robots import (
        parse_robots,
        robots_allowed,
    )

    robots = spark.createDataFrame(
        [("h.example", "User-agent: *\nDisallow: /private/\n")],
        "host string, robots_txt string",
    )
    urls = spark.createDataFrame(
        [("h.example", f"/p{i}") for i in range(50)],
        "host string, path string",
    )
    out = robots_allowed(urls, parse_robots(robots), agent="bot")
    plan = explain_str(out)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "pythonUDF"):
        assert marker not in plan, f"Python boundary in robots plan: {marker}"


def test_copurchase_cache_pins_aggregated_frame(spark):
    """The shared copurchase cache must hold the AGGREGATED
    (src, dst, support) frame — one row per distinct part pair — not
    the raw self-join pair rows (O(Σ_orders k²), memory proportional
    to the fact table).  Mechanical guard for the cache-granularity
    class: the cached plan needs an Aggregate above its Join, and the
    schema must carry the support column the consumers derive from."""
    from graphdb_neo4j_spark.plans import cache_above_aggregation
    from graphdb_neo4j_spark.workloads import _copurchase_edges

    edges = _copurchase_edges(spark, SF)
    assert set(edges.columns) == {"src", "dst", "support"}
    assert cache_above_aggregation(edges), (
        "copurchase cache pins rows below the aggregation boundary"
    )
    # the helper itself: a raw self-join (no aggregate) must FAIL
    l = load_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    raw = l.alias("x").join(
        l.alias("y"),
        (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        & (F.col("x.l_partkey") < F.col("y.l_partkey")),
    )
    assert not cache_above_aggregation(raw)
    # ancestry, not print order: an Aggregate in a SIBLING union branch
    # prints BEFORE the other branch's raw join but does not cover it
    agg_branch = l.groupBy("l_orderkey").agg(
        F.count("*").cast("bigint").alias("n")
    )
    join_branch = (
        l.alias("x")
        .join(l.alias("y"), "l_orderkey")
        .select(
            F.col("x.l_orderkey").alias("l_orderkey"),
            F.lit(1).cast("bigint").alias("n"),
        )
    )
    assert not cache_above_aggregation(agg_branch.unionByName(join_branch))
    # and the aggregate-of-join union stays fine
    both_agg = agg_branch.unionByName(
        join_branch.groupBy("l_orderkey").agg(
            F.count("*").cast("bigint").alias("n")
        )
    )
    assert cache_above_aggregation(both_agg)


def test_q222_crawl_chain_single_arrow_boundary(spark):
    """q222's claim: the end-to-end crawl chain crosses into Python
    exactly ONCE — the WARC decode+parse mapInPandas — and everything
    downstream (text extraction, link pull, URL canonicalization,
    robots verdicts, dedup windows) is JVM-side Catalyst."""
    import re

    out = QUERY_FNS["q222_crawl_pipeline"](spark, SF)
    plan = explain_str(out)
    # formatted explain prints each node once in the tree and once in
    # the detail section — count the numbered detail entries
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan, f"extra Python boundary: {marker}"


def test_louvain_round_nbc_has_mapside_combine(spark):
    """g70 closure (r8): the r6 'untried lever' — map-side (src,
    community) pre-aggregation of neighbor-community weights — is
    ALREADY realized by Spark's partial aggregation: the round's nbc
    plan must keep a partial_sum HashAggregate BEFORE the exchange on
    (v, c), and the edge side must stream from the partitioned cache
    with zero exchange.  Pins the property so a future plan change
    that silently drops map-side combine (the 'whole ballgame' per the
    r6 negative results) fails here instead of in a bench regression."""
    from graphdb_neo4j_spark.operators.traversal import _as_undirected

    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pairs = spark.createDataFrame(
        [(i, (i * 7 + 1) % 50) for i in range(200)], "src long, dst long"
    )
    und = (
        _as_undirected(pairs.select("src", "dst"))
        .filter(F.col("src") != F.col("dst"))
        .repartition(n_shuffle, "dst")
        .groupBy("dst", "src")
        .agg(F.lit(1).cast("bigint").alias("w"))
        .select("src", "dst", "w")
        .sortWithinPartitions("dst")
        .persist()
    )
    try:
        und.count()
        asg = (
            und.select(F.col("src").alias("v"))
            .distinct()
            .select("v", F.col("v").alias("c"))
            .localCheckpoint()
        )
        nbc = (
            und.join(asg.select(F.col("v").alias("dst"), "c"), "dst")
            .groupBy(F.col("src").alias("v"), "c")
            .agg(F.sum("w").cast("bigint").alias("k"))
        )
        plan = explain_str(nbc, "extended")
        phys = plan[plan.index("== Physical Plan =="):]
        lines = phys.splitlines()
        partial = next(
            i for i, l in enumerate(lines) if "partial_sum" in l
        )
        exchange = next(
            i for i, l in enumerate(lines)
            if "Exchange hashpartitioning" in l and "InMemory" not in l
        )
        # top-down print: the final agg + its exchange come first, the
        # partial agg below (closer to the scan) — map-side combine
        assert exchange < partial, phys
        # edge side streams from the cache: no exchange below the join
        join_i = next(i for i, l in enumerate(lines) if "Join" in l)
        scan_i = next(i for i, l in enumerate(lines) if "InMemoryTableScan" in l)
        between = lines[join_i + 1 : scan_i]
        assert not any("Exchange" in l for l in between), phys
    finally:
        und.unpersist()


def test_politeness_schedule_no_single_task_host_window(spark):
    """r8 verdict's one `weak`, closed: per-host slot numbering must not
    be a row_number window partitioned by host alone — a mega-host
    frontier (10^7+ URLs on one site) would land in ONE task at 100×.
    politeness_schedule now derives slots from
    order.group_contiguous_index; mechanically, every Window in its
    plan that partitions on the frontier's host key must either also
    partition on the range-slice id (__pid — a big host SPANS slices)
    or sit above an Aggregate (the per-slice counts frame, bounded by
    the partition count, never by host size).  delays is passed as a
    constant frame so the audited plan is the slot machinery itself,
    not the host-keyed metadata parse of crawl_delays (whose per-host
    windows run over robots.txt LINES — bounded by file size)."""
    from graphdb_neo4j_spark.operators.robots import politeness_schedule
    from graphdb_neo4j_spark.plans import window_partition_specs

    delays = spark.createDataFrame(
        [("h.example", ["*"], 2.0)],
        "host string, agents array<string>, delay_s double",
    )
    urls = spark.createDataFrame(
        [("h.example", f"http://h.example/p{i}") for i in range(30)],
        "host string, url string",
    )
    sched, _ = politeness_schedule(urls, delays, checkpoint=False)
    specs = window_partition_specs(sched)
    assert specs, "expected Window nodes in the schedule plan"
    host_w = [s for s in specs if any(k.startswith("host#") for k in s[0])]
    assert host_w, "expected host-partitioned windows"
    for keys, agg_below in host_w:
        assert any("__pid" in k for k in keys) or agg_below, keys
    assert "SinglePartition" not in explain_str(sched)
    # semantics unchanged by the de-skew: contiguous 0-based slots
    rows = sched.collect()
    assert sorted(r.slot_no for r in rows) == list(range(30))
    assert all(r.fetch_offset_s == 2.0 * r.slot_no for r in rows)


def test_politeness_schedule_rejects_output_column_collisions(spark):
    """ADVICE r8: an input frame already carrying delay_s/slot_no/
    fetch_offset_s must fail loudly, not produce duplicate columns."""
    import pytest as _pytest

    from graphdb_neo4j_spark.operators.robots import politeness_schedule

    delays = spark.createDataFrame(
        [("h.example", ["*"], 2.0)],
        "host string, agents array<string>, delay_s double",
    )
    urls = spark.createDataFrame(
        [("h.example", "http://h.example/a", 0)],
        "host string, url string, slot_no int",
    )
    with _pytest.raises(ValueError, match="slot_no"):
        politeness_schedule(urls, delays)


def test_streaming_frontier_slot_counter_deskewed():
    """The frontier's in-batch rank must come from the group index,
    not a per-host row_number window (source-level guard: the
    streaming plan is inside foreachBatch, invisible to explain)."""
    import inspect

    from graphdb_neo4j_spark.streaming import crawl as crawl_mod

    src = inspect.getsource(crawl_mod.streaming_frontier_ingest)
    assert "group_contiguous_index" in src
    assert 'Window.partitionBy("host")' not in src
    # r9 verdict's one `weak`, closed: the per-canon first-seen picker
    # is a min_by aggregation (order.group_argmin), not a row_number
    # window — a hub canon's in-batch duplicates must never serialize
    # into one task
    assert "group_argmin" in src
    assert 'Window.partitionBy("canon")' not in src


def test_frontier_first_seen_picker_plans_as_aggregation(spark):
    """The frontier's batch-side first-seen-per-canon plan (the exact
    expression _process builds) must contain NO canon-partitioned
    Window over non-aggregated input and NO SinglePartition — it is a
    map-side-combinable min_by aggregate (r9 verdict item #1; the
    plan-level gate the source guard above can't give, built here
    because foreachBatch hides the streaming plan from explain)."""
    from graphdb_neo4j_spark.operators.order import group_argmin
    from graphdb_neo4j_spark.operators.url import (
        registrable_domain,
        url_host,
        url_normalize,
    )
    from graphdb_neo4j_spark.plans import window_partition_specs

    batch = spark.createDataFrame(
        [("http://hub.example/", "2024-01-01 00:00:%02d" % i)
         for i in range(40)]
        + [("http://t.example/p", "2024-01-01 00:01:00")],
        "url string, event_time string",
    ).withColumn("event_time", F.col("event_time").cast("timestamp"))
    canon = F.coalesce(url_normalize(F.col("url")), F.lit(""))
    pages = (
        batch.withColumn("canon", canon)
        .filter(F.col("canon") != "")
        .withColumn("host", url_host(F.col("url")))
        .withColumn("domain", registrable_domain(url_host(F.col("url"))))
    )
    firsts = group_argmin(
        pages, ["canon"], [F.col("event_time").cast("timestamp"), F.col("url")]
    )
    assert window_partition_specs(firsts) == []  # no Window at all
    plan = explain_str(firsts)
    assert "SinglePartition" not in plan
    assert "partial_min_by" in plan, plan  # map-side combine is real
    # semantics: one winner per canon, earliest arrival
    rows = {r.canon: r.url for r in firsts.collect()}
    assert len(rows) == 2


def test_pack_sequences_default_path_deskewed(spark):
    """r9 verdict item #3: grouped packing keys (language/source) are
    unbounded, so pack_sequences' DEFAULT must be the skew-free plan.
    Behaviorally: the by_col default returns a REAL handle (the
    group_prefix_sum_distributed path), and that path's plan has no
    group-partitioned window over non-aggregated input — every window
    touching the group key also partitions on the range-slice id
    (__pid) or sits above the tiny counts Aggregate (the politeness
    -audit pattern)."""
    from graphdb_neo4j_spark.operators.order import (
        group_prefix_sum_distributed,
    )
    from graphdb_neo4j_spark.operators.sampling import pack_sequences
    from graphdb_neo4j_spark.plans import window_partition_specs

    docs = spark.createDataFrame(
        [("en" if i % 10 else "de", i, (i * 7) % 50 + 1) for i in range(200)],
        "source string, doc_id long, n_tokens long",
    )
    packed, handle = pack_sequences(
        docs, budget=100, token_col="n_tokens", order_col="doc_id",
        by_col="source",
    )
    assert handle is not None  # the deskewed path is the default
    packed.count()
    handle.release()
    # plan shape (checkpoint=False exposes the full lineage to explain)
    raw, _ = group_prefix_sum_distributed(
        docs, ["source"], ["doc_id"], "n_tokens", out_col="cum",
        checkpoint=False,
    )
    specs = window_partition_specs(raw)
    assert specs, "expected Window nodes in the prefix-sum plan"
    grp = [s for s in specs if any(k.startswith("source#") for k in s[0])]
    assert grp, "expected source-partitioned windows"
    for keys, agg_below in grp:
        assert any("__pid" in k for k in keys) or agg_below, keys
    assert "SinglePartition" not in explain_str(raw)


def test_window_partition_specs_stops_at_join(spark):
    """ADVICE r9: an Aggregate on ONE input branch of a join must not
    mark a window over the JOIN OUTPUT as bounded — the window's input
    row count is governed by the join, so the old any-descendant
    search made the grouped-skew audit pass vacuously for
    `skewed-window over (raw JOIN aggregated-dim)`."""
    from pyspark.sql import Window as W

    from graphdb_neo4j_spark.plans import window_partition_specs

    raw = spark.range(1000).selectExpr(
        "id", "cast(id % 7 as string) as host", "id * 2 as v"
    )
    dim = raw.groupBy("host").agg(F.count("*").alias("host_n"))  # aggregated side
    joined = raw.join(dim, "host")
    over_join = joined.withColumn(
        "rk", F.row_number().over(W.partitionBy("host").orderBy("id"))
    )
    specs = window_partition_specs(over_join)
    host_specs = [s for s in specs if any("host" in k for k in s[0])]
    assert host_specs and all(not agg for _, agg in host_specs), specs
    # ...while a window DIRECTLY over an aggregate stays bounded=True
    over_agg = dim.withColumn(
        "rk", F.row_number().over(W.partitionBy("host").orderBy("host_n"))
    )
    specs2 = window_partition_specs(over_agg)
    assert specs2 and all(agg for _, agg in specs2), specs2
    # Union: an aggregated branch does not bound the raw branch
    over_union = (
        raw.select("host", "id")
        .unionByName(dim.selectExpr("host", "host_n as id"))
        .withColumn(
            "rk", F.row_number().over(W.partitionBy("host").orderBy("id"))
        )
    )
    specs3 = window_partition_specs(over_union)
    assert specs3 and all(not agg for _, agg in specs3), specs3
    # Generate: explode multiplies aggregated rows by an unbounded
    # per-row factor — the aggregate below it must not count
    over_gen = dim.select(
        "host", F.explode(F.array(F.lit(1), F.lit(2))).alias("v")
    ).withColumn(
        "rk", F.row_number().over(W.partitionBy("host").orderBy("v"))
    )
    specs4 = window_partition_specs(over_gen)
    assert specs4 and all(not agg for _, agg in specs4), specs4


def test_q225_phash_dedup_plan(spark):
    """q225's scale claims, mechanically: the Arrow decode pass runs
    ONCE (the hash frame is frozen before its three consumers, so no
    MapInPandas survives into the downstream plan), and near-dup
    candidate generation is an equi-join on (band, slice) — never a
    cartesian / nested-loop all-pairs.  Since r10 the query itself
    returns an eager-frozen result (handle contract), so the
    discriminating audit rebuilds q225's internal composition here —
    hash freeze, LSH pairing, both dhash joins — and inspects THAT
    plan; the query result is still checked for cartesian leakage."""
    import numpy as np

    from graphdb_neo4j_spark.operators.dedup import hamming_neardup_pairs
    from graphdb_neo4j_spark.operators.multimodal import (
        encode_png,
        perceptual_hashes,
    )
    from graphdb_neo4j_spark.operators.order import checkpoint_eager

    rng = np.random.RandomState(7)
    media = spark.createDataFrame(
        [
            (i, bytearray(encode_png(
                rng.randint(0, 256, size=(40, 40, 3)).astype(np.uint8)
            )))
            for i in range(6)
        ],
        "media_id long, payload binary",
    )
    hashes, h_handle = checkpoint_eager(perceptual_hashes(media))
    pairs, p_handle = hamming_neardup_pairs(
        hashes, id_col="media_id", hash_col="phash", bands=16, max_hamming=10
    )
    dh = hashes.select("media_id", "dhash")
    composed = pairs.join(
        dh.select(F.col("media_id").alias("id_a"), F.col("dhash").alias("_da")),
        "id_a",
    ).join(
        dh.select(F.col("media_id").alias("id_b"), F.col("dhash").alias("_db")),
        "id_b",
    )
    plan = explain_str(composed)
    p_handle.release()
    h_handle.release()
    assert "MapInPandas" not in plan, "decode re-run leaked past the freeze"
    for marker in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert marker not in plan, plan
    out = QUERY_FNS["q225_image_phash_neardup"](spark, SF)
    plan_out = explain_str(out)
    for marker in ("CartesianProduct", "BroadcastNestedLoopJoin", "MapInPandas"):
        assert marker not in plan_out, plan_out
    from graphdb_neo4j_spark.operators.dedup import hamming_neardup_pairs

    hashes = spark.range(100).selectExpr(
        "id as doc_id", "cast(hash(id) as bigint) * 1024 as h"
    )
    pairs2, handle2 = hamming_neardup_pairs(hashes, id_col="doc_id", hash_col="h")
    p2 = explain_str(pairs2)
    handle2.release()
    for marker in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert marker not in p2, p2
    # the cross-frame sibling (new-vs-ledger) is equally equi-join-only
    from graphdb_neo4j_spark.operators.dedup import hamming_neardup_join

    other = spark.range(50).selectExpr(
        "id + 1000 as doc_id", "cast(hash(id + 7) as bigint) * 512 as h"
    )
    p3 = explain_str(
        hamming_neardup_join(hashes, other, id_col="doc_id", hash_col="h")
    )
    for marker in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert marker not in p3, p3


# ---------------------------------------------------------------------------
# one freeze primitive: release and recovery contracts of the kernel rounds
# ---------------------------------------------------------------------------


def _persistent_rdds(spark) -> dict:
    """id -> JVM RDD for every RDD the session currently persists."""
    jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = jmap.keySet().iterator()
    out = {}
    while it.hasNext():
        rdd_id = it.next()
        out[rdd_id] = jmap.get(rdd_id).get()
    return out


def _left_behind(spark, run):
    """(rows, n) — ``run()``'s sorted result rows, and how many RDDs
    created during the call are still persisted after it.  RDD ids grow
    monotonically, so blocks of earlier calls (which a JVM GC may free
    at any moment) never enter the count."""
    floor = spark.sparkContext.emptyRDD().id()
    df = run()
    rows = sorted(map(tuple, df.collect()))
    return rows, sum(1 for i in _persistent_rdds(spark) if i > floor)


def _chain(spark, n: int):
    return spark.createDataFrame(
        [(f"v{i:03d}", f"v{i + 1:03d}") for i in range(n)], ["src", "dst"]
    )


def _two_cliques(spark, chain: int = 30):
    """Two 5-cliques joined by one bridge, plus a ``chain``-edge path:
    every kernel below runs several rounds on it."""
    e = [(f"a{i}", f"a{j}") for i in range(5) for j in range(i + 1, 5)]
    e += [(f"b{i}", f"b{j}") for i in range(5) for j in range(i + 1, 5)]
    e += [("a0", "b0")]
    e += [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(chain)]
    return spark.createDataFrame(e, ["src", "dst"])


def test_kernel_rounds_release_their_blocks(spark):
    """Release contract on every kernel round: the persisted RDDs one
    call leaves behind do not grow with the number of rounds it runs —
    round r−1 is released once round r has materialized, so a
    long-lived session looping over kernels does not accumulate blocks.
    (Before the rounds went through checkpoint_eager, one
    pagerank(iterations=10) left 11 blocks, and Louvain on the two
    cliques left 6 at max_iter=1 and 4 at max_iter=8.)"""
    from graphdb_neo4j_spark.operators.traversal import (
        bfs,
        connected_components_twophase,
        louvain,
        pagerank,
    )

    g = _two_cliques(spark)
    nodes = g.select(F.col("src").alias("key")).union(
        g.select(F.col("dst").alias("key"))
    ).distinct()
    few_pr, n_few_pr = _left_behind(spark, lambda: pagerank(g, iterations=2))
    many_pr, n_many_pr = _left_behind(spark, lambda: pagerank(g, iterations=10))
    assert len(few_pr) == len(many_pr) == 41
    assert n_few_pr == n_many_pr, (n_few_pr, n_many_pr)

    root = spark.createDataFrame([("v000",)], ["key"])
    short, n_short = _left_behind(spark, lambda: bfs(_chain(spark, 5), root))
    deep, n_deep = _left_behind(spark, lambda: bfs(_chain(spark, 40), root))
    assert [d for _, d in short] == list(range(6))
    assert [d for _, d in deep] == list(range(41))
    assert n_short == n_deep, (n_short, n_deep)

    short_cc, n_short_cc = _left_behind(
        spark, lambda: connected_components_twophase(nodes, _chain(spark, 3))
    )
    long_cc, n_long_cc = _left_behind(
        spark, lambda: connected_components_twophase(nodes, g)
    )
    assert {c for _, c in long_cc} == {"a0", "c00"}
    assert n_short_cc == n_long_cc, (n_short_cc, n_long_cc)

    cliques = _two_cliques(spark, chain=0)
    one, n_one = _left_behind(spark, lambda: louvain(cliques, max_iter=1))
    eight, n_eight = _left_behind(spark, lambda: louvain(cliques, max_iter=8))
    assert len(one) == len(eight) == 10
    assert n_one == n_eight, (n_one, n_eight)


def test_kernel_families_release_their_blocks(spark):
    """Release contract on the power-iteration, walk and relaxation
    loops: the persisted RDDs one call leaves behind do not grow with
    its rounds (iterations, walk length, chain depth)."""
    from graphdb_neo4j_spark.operators.traversal import (
        pagerank_weighted,
        personalized_pagerank,
        random_walks,
        sssp_weighted,
        temporal_bfs,
    )

    g = _two_cliques(spark, chain=6)
    gw = g.withColumn("w", F.lit(2))
    seed = spark.createDataFrame([("a1",)], ["key"])
    runs = {  # name: (run, few rounds, many rounds)
        "personalized_pagerank": (
            lambda i: personalized_pagerank(g, seed, iterations=i), 2, 10
        ),
        "pagerank_weighted": (
            lambda i: pagerank_weighted(gw, iterations=i), 2, 10
        ),
        "random_walks": (lambda i: random_walks(g, walk_length=i), 2, 8),
    }
    for name, (run, lo, hi) in runs.items():
        few, n_few = _left_behind(spark, lambda: run(lo))
        many, n_many = _left_behind(spark, lambda: run(hi))
        assert few and many, name
        assert n_few == n_many, (name, n_few, n_many)

    def timed_chain(n):
        return _chain(spark, n).withColumn(
            "t", F.monotonically_increasing_id()
        ).withColumn("w", F.lit(1.0))

    root = spark.createDataFrame([("v000",)], ["key"])
    for name, run in {
        "sssp_weighted": lambda n: sssp_weighted(timed_chain(n), root),
        "temporal_bfs": lambda n: temporal_bfs(timed_chain(n), root),
    }.items():
        short, n_short = _left_behind(spark, lambda: run(3))
        deep, n_deep = _left_behind(spark, lambda: run(12))
        assert (len(short), len(deep)) == (4, 13), name
        assert n_short == n_deep, (name, n_short, n_deep)


def test_nested_kernel_calls_release_their_blocks(spark):
    """A kernel that calls another kernel releases the frame it
    consumed: minimum_spanning_forest leaves no block per Borůvka
    round, and shortest_path_bidirectional — whose answer is a Python
    list — leaves none at all."""
    from graphdb_neo4j_spark.operators.traversal import (
        minimum_spanning_forest,
        shortest_path_bidirectional,
    )

    def path_graph(n):
        # ruler weights 1,3,1,5,1,3,1: Borůvka merges pairs, then
        # quads, ... — log2(n) rounds on n vertices
        ruler = [2 * ((i + 1) & -(i + 1)).bit_length() - 1 for i in range(n - 1)]
        return spark.createDataFrame(
            [(f"v{i}", f"v{i + 1}", w) for i, w in enumerate(ruler)],
            "src string, dst string, w int",
        )

    one, n_one = _left_behind(spark, lambda: minimum_spanning_forest(path_graph(2)))
    four, n_four = _left_behind(
        spark, lambda: minimum_spanning_forest(path_graph(16))
    )
    assert (len(one), len(four)) == (1, 15)
    assert n_one == n_four, (n_one, n_four)

    floor = spark.sparkContext.emptyRDD().id()
    path = shortest_path_bidirectional(_chain(spark, 6), "v000", "v006")
    assert path == [f"v{i:03d}" for i in range(7)]
    left = [i for i in _persistent_rdds(spark) if i > floor]
    assert not left, left


def test_reliable_freeze_reaches_kernel_rounds(spark, monkeypatch):
    """Recovery contract on every kernel round: with
    SPARK_GRAFT_RELIABLE_FREEZE=1 the kernels freeze their rounds by
    reliable checkpoints — same rows as the local default, and no
    locally checkpointed (executor-loss-fragile) block left behind."""
    from graphdb_neo4j_spark.operators.traversal import (
        bfs,
        connected_components_twophase,
        pagerank,
    )

    g = _two_cliques(spark)
    nodes = g.select(F.col("src").alias("key")).distinct()
    root = spark.createDataFrame([("a1",), ("c05",)], ["key"])
    runs = {
        "pagerank": lambda: pagerank(g, iterations=4),
        "bfs": lambda: bfs(g, root, directed=False),
        "twophase": lambda: connected_components_twophase(nodes, g),
    }
    local = {k: sorted(map(tuple, f().collect())) for k, f in runs.items()}
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_FREEZE", "1")
    for name, f in runs.items():
        floor = spark.sparkContext.emptyRDD().id()
        assert sorted(map(tuple, f().collect())) == local[name], name
        fragile = [
            i for i, rdd in _persistent_rdds(spark).items()
            if i > floor and rdd.isLocallyCheckpointed()
        ]
        assert not fragile, (name, fragile)


def test_reliable_freeze_computes_once_and_observes(spark):
    """checkpoint_eager(reliable=True) evaluates each row once (the
    eager reliable checkpoint's file-writing job is the only job over
    the plan), and an Observation attached before the freeze reports
    the frozen frame's row count — the convergence-count fold the
    kernels rely on works under the recovery contract too."""
    from pyspark.sql import Observation
    from pyspark.sql.types import LongType

    from graphdb_neo4j_spark.operators.order import checkpoint_eager

    calls = spark.sparkContext.accumulator(0)

    def tick(x):
        calls.add(1)
        return x

    df = (
        spark.range(0, 200, numPartitions=4)
        .select(F.udf(tick, LongType())("id").alias("id"))
        .groupBy((F.col("id") % 50).alias("k"))
        .agg(F.count("*").alias("n"))
    )
    for reliable in (True, False):
        calls.value = 0
        obs = Observation()
        out, handle = checkpoint_eager(
            df.observe(obs, F.count(F.lit(1)).alias("rows")), reliable=reliable
        )
        assert obs.get["rows"] == 50, reliable
        assert calls.value == 200, (reliable, calls.value)
        assert out.count() == 50
        handle.release()


def test_local_checkpoint_only_inside_checkpoint_eager():
    """One freeze primitive: ``localCheckpoint`` appears in the library
    only inside ``order.checkpoint_eager``."""
    import ast
    import pathlib

    import graphdb_neo4j_spark

    pkg = pathlib.Path(graphdb_neo4j_spark.__file__).parent
    order = pkg / "operators" / "order.py"
    fn = next(
        n for n in ast.parse(order.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "checkpoint_eager"
    )
    inside = range(fn.body[1].lineno, fn.end_lineno + 1)  # past the docstring
    hits = [
        (str(p.relative_to(pkg)), i)
        for p in sorted(pkg.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "localCheckpoint" in line
    ]
    assert hits, "the primitive itself must freeze with localCheckpoint"
    assert all(p == "operators/order.py" and i in inside for p, i in hits), hits


def test_cypher_builds_no_dataframe_plan():
    """One compile path: operators/cypher.py lowers a Cypher read to SQL
    text and builds no DataFrame plan of its own — no DataFrame
    join/filter/select/… call and no pyspark.sql.functions, so a second
    (DataFrame-chain) path cannot creep back beside the statement."""
    import ast
    import pathlib

    import graphdb_neo4j_spark

    src = pathlib.Path(graphdb_neo4j_spark.__file__).parent / "operators" / "cypher.py"
    tree = ast.parse(src.read_text())

    def is_text(node) -> bool:  # "sep".join(...) builds SQL text
        if isinstance(node, ast.IfExp):
            return is_text(node.body) and is_text(node.orelse)
        return isinstance(node, ast.Constant) and isinstance(node.value, str)

    frame_calls = {
        "join", "filter", "where", "select", "selectExpr", "withColumn",
        "groupBy", "agg", "union", "unionByName", "orderBy", "distinct",
        "expr", "col", "explode", "drop", "limit", "offset",
    }
    bad = [
        (n.lineno, n.func.attr)
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        and n.func.attr in frame_calls
        and not (n.func.attr == "join" and is_text(n.func.value))
    ]
    bad += [
        (n.lineno, a.name)
        for n in ast.walk(tree)
        if isinstance(n, ast.ImportFrom) and (n.module or "").startswith("pyspark.sql")
        for a in n.names
        if a.name == "functions"
    ]
    assert not bad, bad


def _job_kinds(spark, run):
    """(result, kinds) — ``run()``'s result and a Counter of the actions
    behind the Spark jobs it started (``localCheckpoint``, ``head``,
    ``count``, ``isEmpty`` …), read from each job's first stage once
    the listener bus has drained.  AQE is off for the call: adaptive
    query stages run as jobs of their own whose names carry no action,
    and their number depends on timing."""
    import uuid
    from collections import Counter

    sc = spark.sparkContext
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    group = f"audit-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.set("spark.sql.adaptive.enabled", old)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    st = sc.statusTracker()
    kinds = Counter(
        st.getStageInfo(min(st.getJobInfo(j).stageIds)).name.split(" at ")[0]
        for j in st.getJobIdsForGroup(group)
    )
    return out, kinds


def test_cypher_reads_run_no_job_until_the_caller_acts(spark):
    """cypher() only builds the statement: the lookup, 2-hop motif,
    SPAWNS*1..3 and OPTIONAL MATCH reads of the perfbench ``investigate``
    op start no Spark job until the caller collects (only a
    shortestPath's traversal kernel runs at call time)."""
    from graphdb_neo4j_spark.operators.cypher import cypher
    from graphdb_neo4j_spark.operators.graph import GraphQuery

    procs = ["p0", "p1", "p2", "p3"]
    gq = GraphQuery(
        nodes=spark.createDataFrame(
            [("Process", k) for k in procs] + [("File", "f1"), ("Ip", "1.2.3.4")],
            ["label", "key"],
        ),
        edges=spark.createDataFrame(
            [("SPAWNS", "p0", "p1", 1), ("SPAWNS", "p1", "p2", 1),
             ("SPAWNS", "p2", "p3", 1), ("CREATED_FILE", "p1", "f1", 11),
             ("CONNECTED_TO", "p2", "1.2.3.4", 3)],
            ["rel", "src", "dst", "event_id"],
        ),
    )
    props = {"Process": spark.createDataFrame(
        [(k, f"{k}.exe") for k in procs], ["key", "image"]
    )}
    reads = {  # perfbench/workloads.py Investigate.op
        "MATCH (p:Process)-[:CREATED_FILE]->(f:File) "
        "WHERE p = 'p1' RETURN f, p.image AS image": [("f1", "p1.exe")],
        "MATCH (a:Process)-[:SPAWNS]->(b:Process)-[:CONNECTED_TO]->(ip:Ip) "
        "WHERE ip = '1.2.3.4' RETURN a, b": [("p1", "p2")],
        "MATCH (a:Process)-[:SPAWNS*1..3]->(d:Process) "
        "WHERE a = 'p0' RETURN DISTINCT d": [("p1",), ("p2",), ("p3",)],
        "MATCH (a:Process)-[:SPAWNS]->(b:Process) WHERE a = 'p0' "
        "OPTIONAL MATCH (b)-[:CREATED_FILE]->(f:File) RETURN b, f": [("p1", "f1")],
    }
    for q, want in reads.items():
        df, kinds = _job_kinds(spark, lambda: cypher(gq, q, props=props))
        assert not kinds, (q, kinds)
        assert sorted(map(tuple, df.collect())) == want, q


def test_shortest_path_backtrace_needs_no_tree_count(spark):
    """A two-pinned shortestPath runs only its round freezes and the
    reads of the meet distance, meet node and two half-paths: each
    backtrace is bounded by its side's BFS depth, so neither runs a
    whole-tree ``count`` job (the parent revision ran two)."""
    from graphdb_neo4j_spark.operators.traversal import shortest_path_bidirectional

    _, kinds = _job_kinds(
        spark,
        lambda: shortest_path_bidirectional(_chain(spark, 6), "v000", "v006"),
    )
    assert set(kinds) == {"localCheckpoint", "head"}, kinds
    assert kinds["localCheckpoint"] == 28, kinds


def test_peeling_kernels_run_only_their_round_freezes(spark):
    """ColorSCC (trim and outer loop), topological levels, MIS, greedy
    coloring and greedy matching read each round's emptiness from an
    Observation on the frame the round freezes: every job they start is
    a freeze, none a separate ``isEmpty`` probe."""
    from graphdb_neo4j_spark.operators.traversal import (
        greedy_coloring,
        greedy_matching,
        maximal_independent_set,
        strongly_connected_components,
        topological_levels,
    )

    e = [(f"a{i}", f"a{j}") for i in range(4) for j in range(i + 1, 4)]
    e += [("a3", "b0"), ("b0", "b1"), ("b1", "b0"), ("b1", "c0")]
    g = spark.createDataFrame(e, ["src", "dst"])
    nodes = g.select(F.col("src").alias("key")).union(
        g.select(F.col("dst").alias("key"))
    ).distinct()
    for name, run in {
        "scc": lambda: strongly_connected_components(nodes, g),
        "topological_levels": lambda: topological_levels(nodes, g),
        "mis": lambda: maximal_independent_set(nodes, g),
        "coloring": lambda: greedy_coloring(nodes, g),
        "matching": lambda: greedy_matching(g),
    }.items():
        _, kinds = _job_kinds(spark, run)
        assert set(kinds) == {"localCheckpoint"}, (name, kinds)


def test_round_loops_start_no_emptiness_probe(spark, monkeypatch):
    """betweenness_approx and hyperball read each round's emptiness from
    an Observation on the frame the round freezes, and louvain each
    level's from the count job its edge cache already runs: none of
    them starts an ``isEmpty`` job."""
    from pyspark.sql import DataFrame

    from graphdb_neo4j_spark.operators.traversal import (
        betweenness_approx,
        hyperball,
        louvain,
    )

    e = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e"), ("e", "f"),
         ("d", "f")]
    g = spark.createDataFrame(e, ["src", "dst"])
    nodes = g.select(F.col("src").alias("key")).union(
        g.select(F.col("dst").alias("key"))
    ).distinct()
    for name, run, want in (
        ("betweenness", lambda: betweenness_approx(nodes, g, n_samples=3),
         {"localCheckpoint", "collect"}),
        ("hyperball", lambda: hyperball(g, max_iters=4), {"localCheckpoint", "head"}),
    ):
        _, kinds = _job_kinds(spark, run)
        assert set(kinds) == want, (name, kinds)
    # louvain also starts asynchronous jobs whose names carry no action,
    # so its probes are counted at the call instead
    probes = []
    is_empty = DataFrame.isEmpty
    monkeypatch.setattr(
        DataFrame, "isEmpty", lambda df: probes.append(df) or is_empty(df)
    )
    louvain(g)
    assert probes == []
