"""Public Pregel / aggregateMessages primitive — the GraphX surface as
DataFrame combinators, so USERS can write custom iterative graph
algorithms without touching the engine's internals.

The engine's own iterative operators (PageRank, components, SSSP, LPA,
…, ``operators/traversal.py``) each hand-roll the same loop: build
messages along triplets, aggregate per destination, update vertex
state, freeze, release the previous round, repeat.  This module exposes that loop:

* :func:`triplets` — the edge ⋈ src-state ⋈ dst-state view with
  ``src_*`` / ``dst_*`` prefixed vertex columns (GraphX's
  ``EdgeTriplet``);
* :func:`aggregate_messages` — one superstep's messages:
  expression-valued ``to_dst`` / ``to_src`` over the triplet columns,
  merged per vertex by any aggregate (GraphX ``aggregateMessages``);
* :func:`pregel` — the bounded-iteration loop with lineage truncation
  and an optional exact-fixpoint early exit.

Everything stays declarative: messages and updates are Catalyst
expressions / DataFrame transforms, so each superstep is the usual
co-partitioned join + grouped aggregate (one shuffle pair), AQE
coalesces as state shrinks, and nothing ever collects to the driver.

Scale notes match traversal.py: each superstep's state is frozen
through :func:`order.checkpoint_eager` (truncating the exploding plan
lineage; ``SPARK_GRAFT_RELIABLE_FREEZE=1`` makes it a reliable
checkpoint that survives executor loss), and superstep r−1's state is
released once superstep r has materialized.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphdb_neo4j_spark.operators.order import checkpoint_eager


def triplets(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """Edge triplet view: every edge row joined with both endpoint
    states.  ``vertices`` must carry a ``key`` column; its columns come
    back prefixed ``src_`` / ``dst_`` next to the edge's own columns.
    """
    if "key" not in vertices.columns:
        raise ValueError("vertices must have a 'key' column")
    src_side = vertices.select(
        *[F.col(c).alias(f"src_{c}") for c in vertices.columns]
    )
    dst_side = vertices.select(
        *[F.col(c).alias(f"dst_{c}") for c in vertices.columns]
    )
    return edges.join(
        src_side, edges["src"] == src_side["src_key"]
    ).join(dst_side, edges["dst"] == dst_side["dst_key"])


def aggregate_messages(
    vertices: DataFrame,
    edges: DataFrame,
    to_dst: Column | None = None,
    to_src: Column | None = None,
    agg: Callable[[Column], Column] = F.sum,
    msg_col: str = "msg",
) -> DataFrame:
    """(key, msg) — one round of message passing: evaluate ``to_dst``
    (sent to each edge's destination) and/or ``to_src`` (sent to the
    source) over the :func:`triplets` columns, then merge all messages
    per vertex with ``agg`` (any Spark aggregate — sum, min, max,
    collect_list…).  Vertices receiving no message are absent, exactly
    like GraphX ``aggregateMessages``.
    """
    if to_dst is None and to_src is None:
        raise ValueError("at least one of to_dst / to_src is required")
    t = triplets(vertices, edges)
    parts = []
    if to_dst is not None:
        parts.append(
            t.select(F.col("dst_key").alias("key"), to_dst.alias(msg_col))
        )
    if to_src is not None:
        parts.append(
            t.select(F.col("src_key").alias("key"), to_src.alias(msg_col))
        )
    msgs = parts[0]
    for p in parts[1:]:
        msgs = msgs.unionByName(p)
    return msgs.groupBy("key").agg(agg(F.col(msg_col)).alias(msg_col))


def pregel(
    vertices: DataFrame,
    edges: DataFrame,
    update: Callable[[DataFrame], DataFrame],
    to_dst: Column | None = None,
    to_src: Column | None = None,
    agg: Callable[[Column], Column] = F.sum,
    max_iter: int = 20,
    stop_at_fixpoint: bool = False,
) -> DataFrame:
    """Bounded Pregel loop: per superstep, aggregate messages and call
    ``update(state_with_msg)`` — the state DataFrame left-joined with
    the ``msg`` column (NULL where no message arrived); ``update``
    returns the next state (must keep ``key``; the ``msg`` column is
    dropped if the update leaves it in place).

    ``stop_at_fixpoint=True`` early-exits when the state is EXACTLY
    unchanged as a multiset — both ``exceptAll`` directions empty, so
    an update that merely SHRINKS the state (active-set pruning) is
    not mistaken for convergence.  Right for integer/label states like
    components or BFS levels; leave it off for float states like
    PageRank, where fixed iteration counts are the convention.
    """
    cur, handle = checkpoint_eager(vertices)
    for _ in range(max_iter):
        msgs = aggregate_messages(
            cur, edges, to_dst=to_dst, to_src=to_src, agg=agg
        )
        nxt = update(cur.join(msgs, "key", "left"))
        if "msg" in nxt.columns:
            nxt = nxt.drop("msg")
        nxt, nxt_handle = checkpoint_eager(nxt)
        fixpoint = (
            stop_at_fixpoint
            and nxt.exceptAll(cur).isEmpty()
            and cur.exceptAll(nxt).isEmpty()
        )
        handle.release()
        cur, handle = nxt, nxt_handle
        if fixpoint:
            break
    return cur
