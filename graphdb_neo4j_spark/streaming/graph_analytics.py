"""Incremental graph analytics over an edge stream.

``streaming_connected_components`` maintains a connected-components
assignment as edges arrive, without ever re-running components over the
full accumulated graph: per micro-batch the new edges are CONTRACTED
onto the current assignment (each endpoint replaced by its component
id), components run on that contracted graph only — work proportional
to the batch and the components it touches, not to history — and the
state snapshot is rewritten ONLY for the shards those components live
in.  Component ids are min vertex ids, so the incremental result is
bit-identical to batch :func:`~graphdb_neo4j_spark.operators.traversal.
connected_components` over the union of all edges (the test gate).

State layout — sharded + versioned, exactly-once:

* ``comp/shard=S/batch_id=B/`` parquet: vertex→component rows, sharded
  by a hash of the vertex id.  A batch rewrites a shard only when the
  shard contains a component the batch merged, or a brand-new vertex
  hashes into it; untouched shards keep their older ``batch_id``
  partition as the live version (per-shard latest-committed wins).
* ``meta`` marker rows are written LAST — a crash mid-write leaves
  uncommitted ``batch_id`` partitions that every reader ignores
  (reads filter to committed batch ids), and the deterministic replay
  overwrites exactly the same partitions (dynamic partition
  overwrite).  GC of superseded per-shard versions runs post-commit.

Finding the touched shards reads one column: the latest state's
``(shard, component)`` pairs (``shard`` is a partition column, so the
scan decodes only ``component``) joined against the batch's (small)
merge mapping.  At extreme scale the next refinement is a materialized
component→shard index maintained alongside each shard write; the
contraction step is already batch-proportional either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphdb_neo4j_spark.operators.order import checkpoint_eager

_EMPTY_SCHEMA = "v string, component string"


def _shard_of(col: F.Column, n_shards: int) -> F.Column:
    return F.pmod(F.xxhash64(col), F.lit(n_shards)).cast("int")


def _latest_committed_paths(
    spark: SparkSession, comp_root: str, committed_max: int,
    shards: set[int] | None = None,
) -> list[str]:
    """Per shard, the path of its newest COMMITTED version (batch_id ≤
    committed_max) — a filesystem listing, no data read.  ``shards``
    prunes the listing to a shard subset."""
    from graphdb_neo4j_spark.streaming.sketch import _hadoop_path

    fs, root = _hadoop_path(spark, comp_root)
    if not fs.exists(root):
        return []
    paths: list[str] = []
    for sdir in fs.listStatus(root):
        name = sdir.getPath().getName()
        if not name.startswith("shard="):
            continue
        sid = int(name.split("=")[1])
        if shards is not None and sid not in shards:
            continue
        best = -1
        for bdir in fs.listStatus(sdir.getPath()):
            bname = bdir.getPath().getName()
            if bname.startswith("batch_id=") and bname.split("=")[1].isdigit():
                b = int(bname.split("=")[1])
                if b <= committed_max and b > best:
                    best = b
        if best >= 0:
            paths.append(f"{comp_root}/shard={sid}/batch_id={best}")
    return paths


def _read_state(
    spark: SparkSession, state_path: str, shards: set[int] | None = None,
) -> DataFrame:
    """Latest committed (v, component, shard) rows, optionally pruned to
    a shard subset."""
    from graphdb_neo4j_spark.streaming.dim import _read_or_none

    meta = _read_or_none(spark, f"{state_path}/meta")
    empty = spark.createDataFrame([], _EMPTY_SCHEMA + ", shard int")
    if meta is None or meta.isEmpty():
        return empty
    last = meta.agg(F.max("batch_id")).head()[0]
    paths = _latest_committed_paths(spark, f"{state_path}/comp", last, shards)
    if not paths:
        return empty
    return (
        spark.read.option("basePath", f"{state_path}/comp")
        .parquet(*paths)
        .select("v", "component", F.col("shard").cast("int").alias("shard"))
    )


def streaming_connected_components(
    edges_stream: DataFrame,
    state_path: str,
    src_col: str = "src",
    dst_col: str = "dst",
    n_shards: int = 8,
):
    """``writeStream`` builder: incremental connected components with
    touched-shard-only state rewrites.

    ``edges_stream`` needs ``src_col``/``dst_col`` (undirected).
    Read the live assignment with :func:`components_state`.
    ``n_shards`` fixes the state sharding for the lifetime of the
    state directory (do not change it between runs).
    """
    from graphdb_neo4j_spark.operators.traversal import _connected_components
    from graphdb_neo4j_spark.streaming.dim import _done_batches

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_id in _done_batches(spark, f"{state_path}/meta"):
            return
        e, e_handle = checkpoint_eager(
            batch_df.select(
                F.col(src_col).cast("string").alias("src"),
                F.col(dst_col).cast("string").alias("dst"),
            )
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .distinct()
        )
        bverts, bverts_handle = checkpoint_eager(
            e.select(F.col("src").alias("v"))
            .unionByName(e.select(F.col("dst").alias("v")))
            .distinct()
            .withColumn("shard", _shard_of(F.col("v"), n_shards))
        )
        bshards = {r.shard for r in bverts.select("shard").distinct().collect()}
        # prior state for the batch's vertices only — a partition-pruned
        # read of just the shards the batch hashes into
        prior_b = _read_state(spark, state_path, shards=bshards)
        # contract: endpoint -> its current component (or itself if new)
        ps = prior_b.select(F.col("v").alias("src"), F.col("component").alias("cs"))
        pd_ = prior_b.select(F.col("v").alias("dst"), F.col("component").alias("cd"))
        contracted = (
            e.join(ps, "src", "left")
            .join(pd_, "dst", "left")
            .select(
                F.coalesce(F.col("cs"), F.col("src")).alias("src"),
                F.coalesce(F.col("cd"), F.col("dst")).alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        cnodes = (
            contracted.select(F.col("src").alias("key"))
            .unionByName(contracted.select(F.col("dst").alias("key")))
            .unionByName(e.select(F.col("src").alias("key")))
            .unionByName(e.select(F.col("dst").alias("key")))
            .distinct()
        )
        # components over the CONTRACTED graph — batch-proportional.
        # component ids are min member ids; since prior component ids
        # are min vertex ids of their sets, the merged min is the
        # global min vertex — batch-equivalent by induction.  (The
        # kernel returns a frozen frame, released with this batch's.)
        merged, merged_handle = _connected_components(cnodes, contracted)
        # CHANGED component ids only: old component c now maps to m ≠ c
        mapping, mapping_handle = checkpoint_eager(
            merged.filter(F.col("key") != F.col("component")).select(
                F.col("key").alias("component"), F.col("component").alias("m")
            )
        )
        new_verts = bverts.join(prior_b.select("v"), "v", "left_anti")
        # touched shards = shards holding a CHANGED component (one-column
        # scan of the latest state: shard is a partition col) ∪ shards of
        # brand-new vertices
        idx = _read_state(spark, state_path).select("shard", "component").distinct()
        touched = {
            r.shard
            for r in idx.join(
                F.broadcast(mapping.select("component")), "component"
            ).select("shard").distinct().collect()
        } | {r.shard for r in new_verts.select("shard").distinct().collect()}
        if touched:
            old_touched = _read_state(spark, state_path, shards=touched)
            updated_old = old_touched.join(mapping, "component", "left").select(
                "v",
                F.coalesce(F.col("m"), F.col("component")).alias("component"),
                "shard",
            )
            new_rows = (
                new_verts.join(
                    merged.select(F.col("key").alias("v"), "component"), "v", "left"
                )
                # a brand-new vertex always appears in the contracted
                # graph under its own id; coalesce is belt-and-braces
                .select(
                    "v",
                    F.coalesce(F.col("component"), F.col("v")).alias("component"),
                    "shard",
                )
            )
            (
                updated_old.unionByName(new_rows)
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("shard", "batch_id")
                .parquet(f"{state_path}/comp")
            )
        spark.createDataFrame([(batch_id,)], "batch_id long").write.mode(
            "append"
        ).parquet(f"{state_path}/meta")
        # GC superseded versions WITHIN the shards just rewritten (other
        # shards' older partitions are still the live latest)
        from graphdb_neo4j_spark.streaming.sketch import _hadoop_path

        fs, root = _hadoop_path(spark, f"{state_path}/comp")
        if touched and fs.exists(root):
            for sdir in fs.listStatus(root):
                name = sdir.getPath().getName()
                if not name.startswith("shard="):
                    continue
                if int(name.split("=")[1]) not in touched:
                    continue
                for bdir in fs.listStatus(sdir.getPath()):
                    bname = bdir.getPath().getName()
                    if (
                        bname.startswith("batch_id=")
                        and bname.split("=")[1].isdigit()
                        and int(bname.split("=")[1]) < batch_id
                    ):
                        fs.delete(bdir.getPath(), True)
        for handle in (e_handle, bverts_handle, mapping_handle, merged_handle):
            handle.release()

    return edges_stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", f"{state_path}/_ckpt_cc"
    )


def components_state(spark: SparkSession, state_path: str) -> DataFrame:
    """Latest (v, component) assignment across all processed batches."""
    return _read_state(spark, state_path).select("v", "component")


def streaming_triangle_count(
    edges_stream: DataFrame,
    state_path: str,
    src_col: str = "src",
    dst_col: str = "dst",
):
    """``writeStream`` builder: incremental triangle counting over an
    undirected edge stream — never recounts history.

    Per micro-batch, only triangles CLOSED by a new edge are counted:
    every triangle is attributed to its maximum edge under the global
    order (old edges < new edges < later new edges, new edges ordered
    by their canonical ``(u, v)``), so each triangle with ≥1 new edge
    counts exactly once, at a new edge — two adjacency joins keyed on
    the new edges' endpoints, work ∝ |batch| × degree, not |history|².

    State: ``edges/batch_id=B`` (the batch's truly-new canonical
    edges, append-shaped), ``counts/batch_id=B`` (delta + running
    total snapshot), ``meta`` committed last — the exactly-once
    replay pattern of the sharded components state (readers filter to
    committed batches; replays overwrite their own partitions).  At
    100 TB bucket the edge log by endpoint hash so the two adjacency
    joins co-locate.  Read the running total with
    :func:`triangle_count_state`.
    """
    from graphdb_neo4j_spark.streaming.dim import _done_batches, _read_or_none

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        done = _done_batches(spark, f"{state_path}/meta")
        if batch_id in done:
            return
        new_raw = (
            batch_df.select(
                F.least(F.col(src_col), F.col(dst_col)).cast("string").alias("u"),
                F.greatest(F.col(src_col), F.col(dst_col)).cast("string").alias("v"),
            )
            .filter(F.col("u").isNotNull() & (F.col("u") != F.col("v")))
            .distinct()
        )
        old = _read_or_none(spark, f"{state_path}/edges")
        prev_total = 0
        if old is not None and done:
            last = max(done)
            old = old.filter(F.col("batch_id") <= last).select("u", "v")
            counts = _read_or_none(spark, f"{state_path}/counts")
            row = (
                counts.filter(F.col("batch_id") == last).select("total").head()
                if counts is not None
                else None
            )
            prev_total = row["total"] if row else 0
        else:
            old = spark.createDataFrame([], "u string, v string")
        new_e, new_e_handle = checkpoint_eager(
            new_raw.join(old, ["u", "v"], "left_anti")
        )
        # adjacency with each edge's order key: old edges sort below all
        # new edges; new edges order by canonical (u, v)
        okey = lambda n, u, v: F.struct(  # noqa: E731
            F.lit(n).cast("int").alias("n"), u.alias("ku"), v.alias("kv")
        )
        half = old.select("u", "v", okey(0, F.col("u"), F.col("v")).alias("k")).unionByName(
            new_e.select("u", "v", okey(1, F.col("u"), F.col("v")).alias("k"))
        )
        und = half.select(F.col("u").alias("a"), F.col("v").alias("b"), "k").unionByName(
            half.select(F.col("v").alias("a"), F.col("u").alias("b"), "k")
        )
        ne = new_e.select(
            "u", "v", okey(1, F.col("u"), F.col("v")).alias("ke")
        )
        nu = und.select(F.col("a").alias("u"), F.col("b").alias("w"), F.col("k").alias("ku_w"))
        nv = und.select(F.col("a").alias("v"), F.col("b").alias("w"), F.col("k").alias("kv_w"))
        closed = (
            ne.join(nu, "u")
            .join(nv, ["v", "w"])
            .filter((F.col("ku_w") < F.col("ke")) & (F.col("kv_w") < F.col("ke")))
        )
        delta_row = closed.agg(F.count("*").alias("d")).head()
        delta = delta_row["d"] if delta_row else 0
        (
            new_e.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(f"{state_path}/edges")
        )
        (
            spark.createDataFrame(
                [(int(delta), int(prev_total + delta), batch_id)],
                "delta long, total long, batch_id long",
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(f"{state_path}/counts")
        )
        spark.createDataFrame([(batch_id,)], "batch_id long").write.mode(
            "append"
        ).parquet(f"{state_path}/meta")
        new_e_handle.release()

    return edges_stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", f"{state_path}/_ckpt_tri"
    )


def triangle_count_state(spark: SparkSession, state_path: str) -> DataFrame:
    """(batch_id, delta, total) — committed per-batch triangle deltas
    and the running total."""
    from graphdb_neo4j_spark.streaming.dim import _done_batches, _read_or_none

    done = _done_batches(spark, f"{state_path}/meta")
    counts = _read_or_none(spark, f"{state_path}/counts")
    if counts is None or not done:
        return spark.createDataFrame([], "batch_id long, delta long, total long")
    return counts.filter(F.col("batch_id") <= max(done)).select(
        "batch_id", "delta", "total"
    )
