"""Distributed total-order utilities, and the library's one freeze.

A global ``row_number()`` over an unpartitioned window collapses to a
single task — the classic 100 TB bottleneck.  ``contiguous_index``
produces the same contiguous 0-based global index with a RANGE
partition + per-partition rank + cumulative per-partition offsets (one
int per partition crosses the driver, never data).

:func:`checkpoint_eager` is the only place the library freezes a
DataFrame (materializes it and truncates its lineage); every iterative
kernel freezes and releases its rounds through it.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


class CheckpointHandle:
    """Deterministic releaser for a frame frozen by :func:`checkpoint_eager`.

    ``DataFrame.unpersist()`` does NOT free local-checkpoint blocks (it
    only touches the SQL CacheManager), and ContextCleaner frees them
    only after a JVM GC notices the dropped reference — so long-lived
    sessions that loop over checkpointing operators accumulate blocks.
    This handle records the RDD id the checkpoint created and releases
    exactly that RDD.

    After ``release()`` the frozen DataFrame — and every lazy frame
    that reads it — is UNUSABLE: any further action fails loudly with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (the fail-loud contract: never
    silently recompute a plan whose partitioning was sampled).  Call it
    only after the final consuming action has run.  Releasing twice is
    a no-op.
    """

    def __init__(self, spark: SparkSession, rdd_ids: frozenset[int]):
        self._spark = spark
        self._rdd_ids = rdd_ids
        self._released = False

    def release(self) -> None:
        if self._released:
            return
        self._released = True
        persistent = self._spark.sparkContext._jsc.sc().getPersistentRDDs()
        for rdd_id in self._rdd_ids:
            rdd = persistent.get(rdd_id)
            if rdd.isDefined():
                rdd.get().unpersist(False)

    # drop-in for callers that held the old DataFrame handle
    unpersist = release


def _ensure_checkpoint_dir(spark: SparkSession) -> None:
    """Set a session checkpoint dir if none is configured (local runs:
    a tempdir; on a cluster, configure a durable FS dir up front and
    this is a no-op)."""
    if spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty():
        spark.sparkContext.setCheckpointDir(
            tempfile.mkdtemp(prefix="spark-graft-ckpt-")
        )


def checkpoint_eager(
    df: DataFrame, reliable: bool | None = None
) -> tuple[DataFrame, CheckpointHandle]:
    """Freeze ``df``: materialize it eagerly, truncate its lineage, and
    return the frozen frame plus a handle that releases its blocks.

    Every iterative kernel freezes each round's state here (without a
    freeze the plan tree grows every round and the driver spends its
    time re-analyzing it) and releases round r−1's handle once round r
    has materialized and nothing it still holds reads round r−1.  A
    round's convergence count rides in the freeze's own job: attach it
    with ``df.observe(Observation, ...)`` before the call and read it
    after.

    The default is a local checkpoint.  Its analyzed plan is a
    ``LogicalRDD`` wrapping EXACTLY the persisted RDD, so the handle
    captures that one id — precise under CONCURRENT queries on the
    same session (the streaming sinks call this from ``foreachBatch``,
    where another stream's checkpoint may materialize at any moment).
    Any other plan shape fails loudly rather than guess.

    RECOVERY CONTRACT: a local checkpoint stores blocks on
    executor-local storage — fast, but a lost executor (dynamic
    allocation, preemption, hardware) makes the frozen blocks
    unrecoverable MID-QUERY and the query fails.  On deployments where
    that matters, pass ``reliable=True`` — or set
    ``SPARK_GRAFT_RELIABLE_FREEZE=1`` to flip every freeze in the
    library at once — and the freeze becomes an eager RELIABLE
    ``Dataset.checkpoint`` to the configured checkpoint dir (set a
    durable FS dir up front on a cluster; a session tempdir is created
    locally).  Semantics are identical; the handle's ``release()`` is
    then a no-op because checkpoint files are owned by the session
    (``spark.cleaner.referenceTracking.cleanCheckpoints=true`` deletes
    them once the RDD is GC'd).  The eager reliable checkpoint
    computes the plan once: the job that writes the checkpoint files
    is the only job over it (Spark 4.1: one evaluation per row, and an
    ``Observation`` attached before the freeze reports each row once),
    so its extra cost over the local freeze is the filesystem write
    and the read back.  The local default stays: at local[n] there is
    no executor to lose.
    """
    if reliable is None:
        reliable = os.environ.get("SPARK_GRAFT_RELIABLE_FREEZE", "0") == "1"
    spark = df.sparkSession
    if reliable:
        _ensure_checkpoint_dir(spark)
        return df.checkpoint(eager=True), CheckpointHandle(spark, frozenset())
    out = df.localCheckpoint(eager=True)
    node = out._jdf.queryExecution().analyzed()
    if node.nodeName() != "LogicalRDD":
        raise RuntimeError(
            f"checkpoint_eager: frozen plan is {node.nodeName()}, not "
            "LogicalRDD — cannot name the RDD to release"
        )
    return out, CheckpointHandle(spark, frozenset([node.rdd().id()]))


def contiguous_index(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "seq",
    checkpoint: bool = True,
) -> tuple[DataFrame, CheckpointHandle]:
    """Contiguous 0-based global index in (``order_cols``) order
    without collapsing to one partition.

    Returns ``(indexed_df, handle)``: the range-partitioned
    intermediate is frozen by :func:`checkpoint_eager` (not merely
    cached) — range boundaries are sampled per evaluation, so a
    recomputation between the counts pass and the rank pass could
    repartition differently and corrupt the offsets; checkpointing freezes the partitioning, and a
    lost block fails loudly instead of silently resampling.  Release
    the blocks DETERMINISTICALLY with ``handle.release()`` (alias
    ``unpersist()``) after the caller's final consuming action — after
    that the indexed DataFrame fails loudly on reuse.

    ``checkpoint=False`` skips the freeze and is for PLAN INSPECTION
    ONLY (the checkpoint truncates the explained plan, hiding the range
    shuffle from audits): without it a recomputation may resample range
    boundaries between the counts pass and the rank pass.
    """
    spark = df.sparkSession
    np = spark.sparkContext.defaultParallelism
    keyed = df.repartitionByRange(np, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    handle = CheckpointHandle(spark, frozenset())
    if checkpoint:
        keyed, handle = checkpoint_eager(keyed)
    counts = dict(
        (r["__pid"], r["n"])
        for r in keyed.groupBy("__pid").agg(F.count("*").alias("n")).collect()
    )
    base, offs = 0, {}
    for pid in sorted(counts):
        offs[pid] = base
        base += counts[pid]
    off_df = spark.createDataFrame(
        [(int(pid), int(off)) for pid, off in offs.items()] or [(0, 0)],
        "__pid int, __off long",
    )
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    out = (
        keyed.join(F.broadcast(off_df), "__pid")
        .withColumn(
            out_col, F.col("__off") + F.row_number().over(w) - F.lit(1)
        )
        .drop("__pid", "__off")
    )
    return out, handle


def group_contiguous_index(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    out_col: str = "seq",
    checkpoint: bool = True,
) -> tuple[DataFrame, CheckpointHandle]:
    """Contiguous 0-based PER-GROUP index in (``order_cols``) order
    without a per-group single-task window — the grouped sibling of
    :func:`contiguous_index`.

    ``row_number() OVER (PARTITION BY group ORDER BY ...)`` puts every
    row of one group in ONE task; a dominant group (the mega-host
    crawl frontier, the hub vertex) becomes the straggler at 100×.
    This plans it skew-free: range-partition on
    ``(group_cols, order_cols)`` (a big group SPANS partitions), count
    rows per ``(partition, group)``, turn the counts into per-slice
    offsets with a window over the COUNTS frame (≤ one row per
    partition a group touches — bounded by the partition count, never
    by group size), then join the offsets back and rank WITHIN each
    ``(partition, group)`` slice.  Unlike :func:`contiguous_index`, no
    per-group state ever reaches the driver — offsets stay distributed.

    ``order_cols`` must totally order rows within a group for the
    index to be deterministic (ties are range-split arbitrarily).

    Same checkpoint contract as :func:`contiguous_index`: the
    range-partitioned intermediate is frozen so the counts pass and
    the rank pass see the SAME sampled range boundaries; release with
    ``handle.release()`` after the final consuming action.
    ``checkpoint=False`` is for PLAN INSPECTION ONLY.
    """
    spark = df.sparkSession
    np = spark.sparkContext.defaultParallelism
    keyed = df.repartitionByRange(
        np, *(list(group_cols) + list(order_cols))
    ).withColumn("__pid", F.spark_partition_id())
    handle = CheckpointHandle(spark, frozenset())
    if checkpoint:
        keyed, handle = checkpoint_eager(keyed)
    counts = keyed.groupBy("__pid", *group_cols).agg(
        F.count("*").alias("__n")
    )
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = counts.withColumn(
        "__off", F.coalesce(F.sum("__n").over(w_off), F.lit(0))
    ).drop("__n")
    # NULL-SAFE join back: a plain equi-join on the group columns would
    # silently DROP every NULL-keyed row (NULL never equals NULL), and
    # groupBy has already made NULL a perfectly good group — the
    # hostless-URL class in the crawl frontier (self-review r9)
    offs_r = offs.select(
        F.col("__pid").alias("__opid"),
        *[F.col(g).alias(f"__og{i}") for i, g in enumerate(group_cols)],
        "__off",
    )
    cond = F.col("__pid") == F.col("__opid")
    for i, g in enumerate(group_cols):
        cond = cond & F.col(g).eqNullSafe(F.col(f"__og{i}"))
    w_rank = Window.partitionBy("__pid", *group_cols).orderBy(*order_cols)
    out = (
        keyed.join(offs_r, cond)
        .withColumn(
            out_col, F.col("__off") + F.row_number().over(w_rank) - F.lit(1)
        )
        .drop(
            "__pid", "__opid", "__off",
            *[f"__og{i}" for i in range(len(group_cols))],
        )
    )
    return out, handle


def ntile_distributed(
    df: DataFrame, order_cols: list[str], k: int, out_col: str = "bucket"
):
    """1-based NTILE(k) bucket assignment over a DISTRIBUTED total
    order — semantics identical to SQL ``NTILE(k) OVER (ORDER BY ...)``
    (first ``n mod k`` buckets take one extra row), but planned as a
    range shuffle instead of a single-partition window.

    Returns ``(out_df, handle)``: the frame is backed by the
    contiguous-index checkpoint and ``handle.release()`` must run
    after the final consuming action for deterministic block cleanup
    (same explicit-handle contract as checkpoint_eager /
    prefix_sum_distributed; ADVICE r5 retired the dynamic
    ``checkpoint_handle`` attribute pattern, which any transformation
    silently dropped).
    """
    indexed, handle = contiguous_index(df, order_cols, out_col="__seq")
    n = indexed.count()
    big = n % k
    size_big = n // k + 1
    size_small = max(n // k, 1)
    cut = big * size_big
    bucket = F.when(
        F.col("__seq") < cut, F.floor(F.col("__seq") / size_big)
    ).otherwise(big + F.floor((F.col("__seq") - cut) / size_small))
    out = indexed.withColumn(out_col, (bucket + 1).cast("int")).drop("__seq")
    return out, handle


def prefix_sum_distributed(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "cum",
) -> tuple[DataFrame, CheckpointHandle]:
    """Running total of ``value_col`` over a DISTRIBUTED total order —
    the prefix-sum sibling of :func:`contiguous_index`: a global
    cumulative window collapses to ONE task; this plans a range
    shuffle + per-partition running sums + driver-side cumulative
    partition totals (one number per partition crosses the driver,
    never data).  ``order_cols`` must totally order the frame (add a
    unique key tie-break).

    Same checkpoint contract as ``contiguous_index``: the
    range-partitioned intermediate is frozen so the totals pass and
    the window pass see the same partitioning; release with
    ``handle.release()`` after the final consuming action.
    """
    spark = df.sparkSession
    np = spark.sparkContext.defaultParallelism
    keyed = df.repartitionByRange(np, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    keyed, handle = checkpoint_eager(keyed)
    totals = dict(
        (r["__pid"], r["t"])
        for r in keyed.groupBy("__pid")
        .agg(F.sum(value_col).alias("t"))
        .collect()
    )
    base, offs = 0, {}
    for pid in sorted(totals):
        offs[pid] = base
        base += totals[pid] or 0
    off_df = spark.createDataFrame(
        [(int(pid), int(off)) for pid, off in offs.items()] or [(0, 0)],
        "__pid int, __off long",
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        keyed.join(F.broadcast(off_df), "__pid")
        .withColumn(out_col, F.col("__off") + F.sum(value_col).over(w))
        .drop("__pid", "__off")
    )
    return out, handle


def group_prefix_sum_distributed(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    out_col: str = "cum",
    checkpoint: bool = True,
) -> tuple[DataFrame, CheckpointHandle]:
    """Running total of ``value_col`` PER GROUP over a distributed
    order — the grouped sibling of :func:`prefix_sum_distributed`,
    planned like :func:`group_contiguous_index`: range partition on
    ``(group_cols, order_cols)`` (a dominant group SPANS partitions
    instead of collapsing its cumulative window into one task),
    per-(slice, group) totals, per-slice offsets via a window over the
    tiny totals frame, NULL-SAFE join back, then an in-slice running
    sum.  No per-group state reaches the driver.

    ``order_cols`` must totally order rows within a group.  Same
    checkpoint contract as the siblings; ``checkpoint=False`` is for
    PLAN INSPECTION ONLY.
    """
    spark = df.sparkSession
    np = spark.sparkContext.defaultParallelism
    keyed = df.repartitionByRange(
        np, *(list(group_cols) + list(order_cols))
    ).withColumn("__pid", F.spark_partition_id())
    handle = CheckpointHandle(spark, frozenset())
    if checkpoint:
        keyed, handle = checkpoint_eager(keyed)
    totals = keyed.groupBy("__pid", *group_cols).agg(
        F.sum(value_col).alias("__t")
    )
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = totals.withColumn(
        "__off", F.coalesce(F.sum("__t").over(w_off), F.lit(0))
    ).drop("__t")
    offs_r = offs.select(
        F.col("__pid").alias("__opid"),
        *[F.col(g).alias(f"__og{i}") for i, g in enumerate(group_cols)],
        "__off",
    )
    cond = F.col("__pid") == F.col("__opid")
    for i, g in enumerate(group_cols):
        cond = cond & F.col(g).eqNullSafe(F.col(f"__og{i}"))
    w_run = (
        Window.partitionBy("__pid", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        keyed.join(offs_r, cond)
        .withColumn(out_col, F.col("__off") + F.sum(value_col).over(w_run))
        .drop(
            "__pid", "__opid", "__off",
            *[f"__og{i}" for i in range(len(group_cols))],
        )
    )
    return out, handle


def group_argmin(
    df: DataFrame,
    group_cols: list[str],
    order_exprs: list,
) -> DataFrame:
    """One FULL row per group — the row minimizing ``order_exprs``
    (compared as a struct, field by field) — planned as a map-side
    combinable AGGREGATION, never a per-group window.

    ``row_number() OVER (PARTITION BY g ORDER BY k) = 1`` computes the
    same "first row per group" through a per-group window.  A pure
    argmin needs no window at all: ``min_by(struct(<payload>),
    struct(<order>))`` has a partial (map-side) phase, so each task
    forwards at most one candidate row per group it touches and the
    shuffle carries O(groups), not O(rows).  This is the aggregation
    the r9 class of grouped single-task windows
    (``group_contiguous_index``'s docstring) reduces to whenever only
    the FIRST row is wanted — prefer it over the index primitives in
    that case.

    MEASURED nuance (r10, ``tools/argmin_ab.py``, honest negative
    result): on Spark 3.5+/4.x the ``__rn = 1``-filter window is
    already partially de-fanged by ``InferWindowGroupLimit``, which
    plants a map-side per-group top-k BEFORE the exchange — so on the
    80%-hub shape the window is only ~1.2-1.9× slower than this
    argmin (6.5/2.5/4.4s vs 3.5/2.6/3.6s interleaved), NOT the 5.4×
    of the rank/slot case (``tools/deskew_ab.py``), where no filter
    follows the window and no group limit can be inferred.  The
    argmin stays the right plan: it skips the per-group sort + window
    machinery entirely, and it cannot silently lose the optimization
    when the pattern stops matching (a later consumer of the rank
    column, a computed filter bound, an optimizer-rule regression) —
    the group limit is a fragile pattern-match, the partial aggregate
    is structural.

    Semantics notes:

    * NULL group keys form their own group (``groupBy`` semantics; no
      join-back, so no NULL-safety footgun).
    * Ties on ``order_exprs`` pick an arbitrary winner — exactly the
      ``row_number`` contract when its ORDER BY ties.  Add a unique
      tie-break column for determinism.
    * NULL fields inside the order struct sort FIRST (Spark's
      ascending struct comparison), matching the default
      ``orderBy`` / ``asc_nulls_first`` a window would use.

    ``order_exprs`` are Columns or column-name strings; the result
    carries ``df``'s exact schema and column order.
    """
    payload = [c for c in df.columns if c not in set(group_cols)]
    if not payload:
        return df.dropDuplicates(group_cols)
    key = F.struct(
        *[F.col(e) if isinstance(e, str) else e for e in order_exprs]
    )
    agg = df.groupBy(*group_cols).agg(
        F.min_by(F.struct(*[F.col(c) for c in payload]), key).alias("__win")
    )
    return agg.select(*group_cols, "__win.*").select(*df.columns)
