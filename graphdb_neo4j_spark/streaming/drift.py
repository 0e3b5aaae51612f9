"""Streaming drift monitor: per-micro-batch PSI against a frozen
reference window — the live tail of :mod:`~graphdb_neo4j_spark.
operators.drift`.

The reference layout (lo, width) and shares are computed ONCE when the
stream is wired (reference = training window; freezing it is the point
of PSI) and the per-batch work is one bucket-count hash-agg over the
batch plus a ≤ B-row join — the (batch_id, psi) timeline is the
monitoring artifact.  Exactly-once: each batch overwrites its own
partition of the timeline log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphdb_neo4j_spark.operators.drift import EPS, _bucketed_share
from graphdb_neo4j_spark.operators.order import checkpoint_eager


def streaming_drift(
    stream_df: DataFrame,
    ref: DataFrame,
    col: str,
    state_path: str,
    n_buckets: int = 10,
):
    """``writeStream`` builder: append one (batch_id, psi, rows) row per
    micro-batch to ``{state_path}/psi_log``; read with
    :func:`drift_timeline`.  Bit-identical to running
    :func:`~graphdb_neo4j_spark.operators.drift.psi_drift` on each
    batch's rows with the same reference."""
    stats = ref.agg(
        F.min(F.col(col).cast("double")).alias("lo"),
        F.max(F.col(col).cast("double")).alias("hi"),
        F.count(F.col(col)).alias("n"),
    ).head()
    lo, hi, n_ref = stats["lo"], stats["hi"], stats["n"]
    if lo is None or n_ref == 0:
        raise ValueError("streaming_drift: reference has no non-null rows")
    width = (hi - lo) / n_buckets if hi > lo else 1.0
    # frozen for the stream's lifetime: never recomputed per batch
    ref_shares, _ = checkpoint_eager(
        _bucketed_share(ref, col, lo, width, n_buckets)
        .withColumnRenamed("share", "p_ref")
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cur = (
            _bucketed_share(batch_df, col, lo, width, n_buckets)
            .withColumnRenamed("share", "p_cur")
        )
        joined = ref_shares.join(cur, "bucket", "full_outer").select(
            F.coalesce(F.col("p_ref"), F.lit(0.0)).alias("p_ref"),
            F.coalesce(F.col("p_cur"), F.lit(0.0)).alias("p_cur"),
        )
        pr = F.col("p_ref") + F.lit(EPS)
        pc = F.col("p_cur") + F.lit(EPS)
        term = (pc - pr) * F.log(pc / pr)
        row = joined.agg(F.round(F.sum(term), 6).alias("psi")).head()
        n_rows = batch_df.filter(F.col(col).isNotNull()).count()
        (
            spark.createDataFrame(
                [(int(batch_id), float(row["psi"]), int(n_rows))],
                "batch_id long, psi double, rows long",
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(f"{state_path}/psi_log")
        )

    return stream_df.writeStream.foreachBatch(_process).option(
        "checkpointLocation", f"{state_path}/_ckpt_drift"
    )


def drift_timeline(spark: SparkSession, state_path: str) -> DataFrame:
    """(batch_id, psi, rows) — the monitoring timeline, batch order."""
    return spark.read.parquet(f"{state_path}/psi_log").orderBy("batch_id")


_CUSUM_STATE = (
    "key string, ps_last bigint, min_ps bigint, max_ps bigint, "
    "max_cp bigint, max_cn bigint, n_alerts bigint"
)


def streaming_cusum(
    stream_df: DataFrame,
    state_path: str,
    value_col: str,
    drift: int,
    threshold: int,
    key_col: str = "key",
    order_cols: list[str] | None = None,
):
    """``writeStream`` builder: incremental two-sided CUSUM per key —
    the live tail of :func:`~graphdb_neo4j_spark.operators.temporal.
    cusum`, bit-identical to running the batch operator over the full
    accumulated series (the test gate).

    The closed form C⁺ = S − min(0, min S), C⁻ = −(S − max(0, max S))
    needs only THREE per-key scalars of history — last prefix sum,
    running min, running max — so state is one tiny row per key,
    updated per micro-batch with one window pass over the batch plus a
    key join.  Alerts (C⁺ > ``threshold``) accumulate in state.

    Ordering contract: per key, later micro-batches must hold later
    rows (append order = series order; ``order_cols`` sorts within a
    batch).  A late row would rewrite history — route late data
    through a watermarked upstream dedup/sort if the source can
    reorder.  Exactly-once: per-batch state snapshots + committed-
    batch meta, the repo's standard replay pattern.
    """
    from pyspark.sql import Window

    from graphdb_neo4j_spark.streaming.dim import _done_batches, _read_or_none

    order_cols = order_cols or ["ts_us"]

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        done = _done_batches(spark, f"{state_path}/meta")
        if batch_id in done:
            return
        prev_all = _read_or_none(spark, f"{state_path}/state")
        if prev_all is not None and done:
            prev = prev_all.filter(F.col("batch_id") == max(done)).drop("batch_id")
        else:
            prev = spark.createDataFrame([], _CUSUM_STATE)
        b = batch_df.select(
            F.col(key_col).cast("string").alias("key"),
            F.col(value_col).cast("bigint").alias("x"),
            *order_cols,
        )
        w = (
            Window.partitionBy("key")
            .orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        j = (
            b.withColumn("lc", F.sum(F.col("x") - F.lit(int(drift))).over(w))
            .join(prev, "key", "left")
            .withColumn("ps", F.coalesce(F.col("ps_last"), F.lit(0)) + F.col("lc"))
        )
        # running extrema across history + batch prefix (least/greatest
        # skip the NULL history of brand-new keys)
        tot_min = F.least(F.min("ps").over(w), F.col("min_ps"))
        tot_max = F.greatest(F.max("ps").over(w), F.col("max_ps"))
        cp = F.col("ps") - F.least(F.lit(0).cast("bigint"), tot_min)
        cn = -(F.col("ps") - F.greatest(F.lit(0).cast("bigint"), tot_max))
        j = j.withColumn("cp", cp).withColumn("cn", cn)
        upd = j.groupBy("key").agg(
            (
                F.first("ps_last", ignorenulls=True).cast("bigint")
                + F.sum(F.col("x") - F.lit(int(drift)))
            ).alias("_shift"),
            F.sum(F.col("x") - F.lit(int(drift))).alias("_delta"),
            F.least(
                F.first("min_ps", ignorenulls=True), F.min("ps")
            ).cast("bigint").alias("min_ps"),
            F.greatest(
                F.first("max_ps", ignorenulls=True), F.max("ps")
            ).cast("bigint").alias("max_ps"),
            F.greatest(
                F.first("max_cp", ignorenulls=True), F.max("cp")
            ).cast("bigint").alias("max_cp"),
            F.greatest(
                F.first("max_cn", ignorenulls=True), F.max("cn")
            ).cast("bigint").alias("max_cn"),
            (
                F.coalesce(F.first("n_alerts", ignorenulls=True), F.lit(0))
                + F.sum((F.col("cp") > F.lit(int(threshold))).cast("bigint"))
            ).cast("bigint").alias("n_alerts"),
        ).select(
            "key",
            F.coalesce(F.col("_shift"), F.col("_delta"))
            .cast("bigint")
            .alias("ps_last"),
            "min_ps", "max_ps", "max_cp", "max_cn", "n_alerts",
        )
        carried = prev.join(upd.select("key"), "key", "left_anti")
        (
            upd.unionByName(carried)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(f"{state_path}/state")
        )
        spark.createDataFrame([(batch_id,)], "batch_id long").write.mode(
            "append"
        ).parquet(f"{state_path}/meta")

    return stream_df.writeStream.foreachBatch(_process).option(
        "checkpointLocation", f"{state_path}/_ckpt_cusum"
    )


def cusum_state(spark: SparkSession, state_path: str) -> DataFrame:
    """Latest committed per-key CUSUM state: (key, ps_last, min_ps,
    max_ps, max_cp, max_cn, n_alerts)."""
    from graphdb_neo4j_spark.streaming.dim import _done_batches, _read_or_none

    done = _done_batches(spark, f"{state_path}/meta")
    st = _read_or_none(spark, f"{state_path}/state")
    if st is None or not done:
        return spark.createDataFrame([], _CUSUM_STATE)
    return st.filter(F.col("batch_id") == max(done)).drop("batch_id")
