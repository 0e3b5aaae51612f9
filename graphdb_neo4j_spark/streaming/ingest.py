"""Structured Streaming — incremental graph ingest + event-time windows.

The reference is batch-only, but its corpus is naturally a stream of
timestamped detonation traces; SURVEY.md §7 (M4) calls for a streaming
path.  Design:

* **Source** — file-based ``readStream`` over trace JSON with the same
  explicit schema as the batch reader (new files picked up per trigger;
  ``availableNow`` gives catch-up-then-stop semantics for tests/backfill).
* **Sink** — LSM-style: each micro-batch appends its *node/edge writes*
  (with their ``ord`` conflict-resolution key) to a parquet log via
  ``foreachBatch``; :func:`compact_graph_log` folds the log into the
  canonical tables with exactly the batch MERGE semantics.  This is the
  Delta-``MERGE INTO``-free formulation: because the reference's MERGE
  is a pure aggregation over the write history (SURVEY.md §2.3),
  append-log + dedup-on-compaction is semantically identical and
  idempotent under replay (exactly-once not required from the sink).
  On a Delta/Iceberg-equipped cluster, swap ``foreachBatch`` body for
  ``MERGE INTO`` keyed on (rel, src, dst) / (label, key).
* **Event-time** — watermarked tumbling windows over span start times
  (late traces beyond the watermark are dropped, the standard policy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graphdb_neo4j_spark.operators.ingest import PropertyGraph, build_graph_from_spans
from graphdb_neo4j_spark.operators.order import checkpoint_eager
from graphdb_neo4j_spark.sources.jaeger import TRACE_SCHEMA, read_spans, read_traces


def stream_spans(spark: SparkSession, path: str, max_files_per_trigger: int | None = None):
    """Streaming span reader — same schema/normalization as the batch
    reader, driven by the file source."""
    reader = (
        spark.readStream.option("multiLine", "true")
        .schema(TRACE_SCHEMA)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.json(path).withColumn("file", F.input_file_name())
    basename = F.element_at(F.split(F.col("file"), "/"), -1)
    trace_id = F.when(
        F.col("traceID").isNotNull() & (F.col("traceID") != ""), F.col("traceID")
    ).otherwise(F.concat(F.lit("FILE::"), basename))
    traces = raw.select(trace_id.alias("trace_id"), "file", "spans")
    from graphdb_neo4j_spark.functions.etl import tags_map

    return traces.select(
        "trace_id",
        "file",
        F.posexplode("spans").alias("span_idx", "span"),
    ).select(
        "trace_id",
        "file",
        "span_idx",
        F.coalesce(F.col("span.startTime"), F.lit(0)).alias("start_time"),
        tags_map(F.col("span.tags")).alias("tags"),
    )


# write schemas of the graph-log tables (PropertyGraph.edges/.nodes()/
# .process/.registry_value + the foreachBatch batch_id column) — the
# empty-table fallback for compact_graph_log when a table never
# received a single row in any batch
_LOG_SCHEMAS = {
    "edges": (
        "rel string, src string, dst string, event_id bigint, proto string, "
        "dport string, value_name string, granted_access string, "
        "details string, mode string, what string, stream string, "
        "hash string, batch_id int"
    ),
    "nodes": "label string, key string, batch_id int",
    "process": (
        "key string, image string, command_line string, process_guid string, "
        "parent_process_guid string, batch_id int"
    ),
    "registry_value": "path string, value_name string, batch_id int",
}


def stream_graph_ingest(
    spark: SparkSession,
    input_path: str,
    log_path: str,
    checkpoint_path: str,
    trigger_available_now: bool = True,
):
    """Start the incremental ingest: trace files → per-batch graph-write
    log (append-only parquet under ``{log_path}/{nodes,edges,...}``).

    Returns the StreamingQuery; call ``.awaitTermination()``.
    """

    def process_batch(batch_traces: DataFrame, batch_id: int) -> None:
        spans = batch_traces  # already exploded spans (stream_spans output)
        traces = spans.select("trace_id").distinct()
        g = build_graph_from_spans(traces, spans)
        # batch_id is the cross-batch ordering key: compaction folds the
        # log in batch order with the same last-non-null semantics the
        # batch MERGE applies within a batch (see compact_graph_log)
        # every table carries batch_id AND is partitioned by it: the
        # cross-batch ordering key for the fold, the pruning key for
        # time-travel reads (graph_asof), and replay isolation
        bid = F.lit(int(batch_id)).alias("batch_id")
        for name, df in (
            ("edges", g.edges),
            ("nodes", g.nodes()),
            ("process", g.process),
            ("registry_value", g.registry_value),
        ):
            df.select("*", bid).write.mode("append").partitionBy(
                "batch_id"
            ).parquet(f"{log_path}/{name}")
        g.unpersist()  # the batch's span cache would outlive it otherwise

    stream = stream_spans(spark, input_path)
    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_graph_log(
    spark: SparkSession, log_path: str, as_of_batch: int | None = None
) -> dict[str, DataFrame]:
    """Fold the append log into canonical tables (MERGE-on-read).

    ``as_of_batch`` restricts the fold to ``batch_id <= as_of_batch`` —
    TIME TRAVEL over the streaming log (see :func:`graph_asof`).

    Node/edge identity dedup is exact.  Property conflict resolution is
    DETERMINISTIC: each log row carries its ``batch_id``, and the fold
    replays batches in order with the same semantics the batch MERGE
    applies within a batch —

    * bare-``SET`` props (edge props except ``details``; registry
      ``value_name``): last batch wins, including NULL;
    * last-non-null props (``TAMPERED.details``; all Process props): a
      later batch's NULL means "no write in that batch", so the older
      value is kept — ``last(..., ignorenulls=True)`` over batch order.

    Remaining relaxation (documented, not silent): the ON CREATE
    GUID-drop asymmetry is applied per-batch, so a GUID-keyed process
    first seen in batch N has its batch-N-create write's GUIDs dropped
    even if the node already existed from batch < N.  Trace-scoped keys
    (``{trace}:{pid}``) are unaffected — a trace is wholly inside one
    batch.
    """
    def fold(df: DataFrame, keys: list[str], last_nonnull: set[str]) -> DataFrame:
        props = [c for c in df.columns if c not in (*keys, "batch_id")]
        w = Window.partitionBy(*keys).orderBy("batch_id")
        w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        out = df.select(
            *keys,
            *[
                F.last(c, ignorenulls=(c in last_nonnull)).over(w_all).alias(c)
                for c in props
            ],
        )
        return out.dropDuplicates(keys)

    def load(name: str) -> DataFrame:
        # a table whose frame was empty in EVERY batch has no parquet
        # files (partitionBy writes nothing for zero rows), so schema
        # inference fails — fall back to an empty frame with the
        # canonical write schema (_LOG_SCHEMAS)
        from pyspark.errors.exceptions.captured import AnalysisException

        try:
            df = spark.read.parquet(f"{log_path}/{name}")
        except AnalysisException:
            df = spark.createDataFrame([], _LOG_SCHEMAS[name])
        if as_of_batch is not None:
            df = df.filter(F.col("batch_id") <= int(as_of_batch))
        return df

    edges = fold(
        load("edges"),
        ["rel", "src", "dst"],
        last_nonnull={"details"},
    )
    nodes = load("nodes").select("label", "key").dropDuplicates(["label", "key"])
    process = fold(
        load("process"),
        ["key"],
        last_nonnull={"image", "command_line", "process_guid", "parent_process_guid"},
    )
    registry_value = fold(
        load("registry_value"),
        ["path"],
        last_nonnull=set(),
    )
    return {
        "edges": edges,
        "nodes": nodes,
        "process": process,
        "registry_value": registry_value,
    }


def graph_asof(
    spark: SparkSession, log_path: str, as_of_batch: int
) -> dict[str, DataFrame]:
    """TIME-TRAVEL read of the streaming graph log: the canonical
    tables exactly as they stood after micro-batch ``as_of_batch`` —
    the MERGE-on-read fold bounded by a batch horizon (every log row
    carries its ``batch_id``; nothing is rewritten, so every historical
    state stays addressable until the log is compacted away).

    Composes with :func:`~graphdb_neo4j_spark.operators.graph.
    graph_diff` for snapshot-to-snapshot drift ("what did the last N
    batches change").  100 TB shape: the horizon predicate prunes the
    ``batch_id``-partitioned log files BEFORE the fold windows run.
    """
    return compact_graph_log(spark, log_path, as_of_batch=as_of_batch)


def windowed_event_counts(
    spans_stream: DataFrame,
    window_duration: str = "10 minutes",
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling-window span counts per EventID over the
    stream — the event-time aggregation shape for any span telemetry.

    ``start_time`` is µs since epoch; late data beyond the watermark is
    dropped (standard discard policy).
    """
    from graphdb_neo4j_spark.functions.etl import canon_event_id

    with_time = spans_stream.select(
        F.timestamp_micros(F.col("start_time")).alias("event_time"),
        canon_event_id(F.col("tags")).alias("ev"),
    )
    return (
        with_time.withWatermark("event_time", watermark_delay)
        .groupBy(F.window("event_time", window_duration).alias("win"), "ev")
        .agg(F.count("*").alias("n_spans"))
        .select(
            F.unix_timestamp("win.start").alias("window_start_epoch"),
            "ev",
            "n_spans",
        )
    )


def stateful_process_tracker(spans_stream: DataFrame, timeout_minutes: int = 60):
    """Custom stateful streaming operator: per-process lifecycle state.

    ``applyInPandasWithState`` keyed by process GUID/pid key; state =
    (first_seen_us, last_seen_us, n_spans).  Emits one updated row per
    key per micro-batch; state expires once the event-time watermark
    (span start time, ``timeout_minutes`` of allowed lateness) passes
    ``timeout_minutes`` after the key's last span (bounded state —
    mandatory for an unbounded stream); spans later than the watermark
    are dropped.  An event-time timeout lets a
    ``trigger(availableNow=True)`` query finish: Spark runs one no-data
    batch to expire state once the watermark moves, where a
    processing-time timeout keeps it running empty batches forever.
    This is the Spark-native shape for the reference's implicit
    "process lifetime" notion (event 1 ↔ event 5).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from graphdb_neo4j_spark.operators.ingest import _derive

    d = (
        _derive(spans_stream)
        .filter(F.col("pkey").isNotNull())
        .select(
            F.col("pkey").alias("key"),
            F.col("ord.start_time").alias("start_us"),
            F.timestamp_micros(F.col("ord.start_time")).alias("event_time"),
        )
        .withWatermark("event_time", f"{timeout_minutes} minutes")
    )

    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("first_seen_us", LongType()),
            StructField("last_seen_us", LongType()),
            StructField("n_spans", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("first_seen_us", LongType()),
            StructField("last_seen_us", LongType()),
            StructField("n_spans", LongType()),
        ]
    )

    def track(key, pdfs, state: "GroupState"):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        first, last, n = (
            state.get if state.exists else (None, None, 0)
        )
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            lo = int(pdf["start_us"].min())
            hi = int(pdf["start_us"].max())
            first = lo if first is None else min(first, lo)
            last = hi if last is None else max(last, hi)
            n += len(pdf)
        state.update((first, last, n))
        state.setTimeoutTimestamp(last // 1000 + timeout_minutes * 60_000)
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "first_seen_us": [first],
                "last_seen_us": [last],
                "n_spans": [n],
            }
        )

    return d.groupBy("key").applyInPandasWithState(
        track,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


_DELAY_UNITS_US = {
    "second": 1_000_000, "seconds": 1_000_000,
    "minute": 60_000_000, "minutes": 60_000_000,
    "hour": 3_600_000_000, "hours": 3_600_000_000,
    "day": 86_400_000_000, "days": 86_400_000_000,
}


def _delay_us(delay: str) -> int:
    n, unit = delay.strip().split()
    return int(n) * _DELAY_UNITS_US[unit.lower()]


def streaming_neardup_dedup(
    docs_stream: DataFrame,
    state_path: str,
    watermark_delay: str = "1 hour",
    time_col: str = "event_time",
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """``writeStream`` builder: streaming NEAR-duplicate dedup with the
    RELATIONAL simhash — per micro-batch, one explode + codegen'd
    hash-aggregate computes every document's 64-bit signature (one md5
    per token, :func:`~graphdb_neo4j_spark.operators.dedup.
    simhash_signatures` — the batch formulation, NOT the interpreted
    64-fold per-row expression whose every bit vote re-hashes every
    token).  A document is kept iff its simhash was not seen earlier in
    the batch (first by event time, id tie-break) nor within the
    watermark horizon of any earlier batch.

    State = a (simhash, last_seen_us) snapshot pruned to the horizon
    each batch — bounded, like ``dropDuplicatesWithinWatermark``'s
    store.  Kept docs land in ``{state_path}/kept`` partitioned by
    batch_id (replays overwrite their own partition); the snapshot and
    a meta marker (written last) give exactly-once replay, the
    :mod:`~graphdb_neo4j_spark.streaming.dim` pattern.  Read results
    with :func:`neardup_kept`.
    """
    from graphdb_neo4j_spark.operators.dedup import simhash_signatures
    from graphdb_neo4j_spark.streaming.dim import _done_batches, _read_or_none

    horizon_us = _delay_us(watermark_delay)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_id in _done_batches(spark, f"{state_path}/meta"):
            return
        meta = _read_or_none(spark, f"{state_path}/meta")
        prior = None
        if meta is not None and not meta.isEmpty():
            last = meta.agg(F.max("batch_id")).head()[0]
            prior = (
                spark.read.parquet(f"{state_path}/seen")
                .filter(F.col("batch_id") == last)
                .drop("batch_id")
            )
        if prior is None:
            prior = spark.createDataFrame(
                [], "simhash string, last_seen_us bigint"
            )
        docs = batch_df.withColumn(
            "__ts_us", F.unix_micros(F.col(time_col).cast("timestamp"))
        )
        sigs = simhash_signatures(docs, text_col=text_col, id_col=id_col)
        # LEFT join: simhash_signatures drops NULL-text rows (explode of
        # a NULL token array); such docs must still flow through — they
        # dedup among themselves under the sentinel signature, never
        # silently vanish
        keyed, keyed_handle = checkpoint_eager(
            docs.join(sigs.withColumnRenamed("id", id_col), id_col, "left")
            .withColumn("simhash", F.coalesce(F.col("simhash"), F.lit("")))
        )
        # a signature expires once the batch's max event time passes
        # last_seen + delay — dropDuplicatesWithinWatermark's contract;
        # prune BEFORE the anti-join so an expired duplicate re-enters
        max_ts = keyed.agg(F.max("__ts_us")).head()[0]
        horizon = (max_ts or 0) - horizon_us
        prior = prior.filter(F.col("last_seen_us") >= F.lit(horizon))
        # in-batch winner per signature: first by (event time, id) — a
        # map-side-combinable min_by aggregation, NOT a row_number
        # window partitioned by simhash: signature counts are
        # power-law (every empty/boilerplate doc shares one), and the
        # window form would serialize a hot signature's whole batch
        # into one task (the r9 grouped single-task-window class)
        from graphdb_neo4j_spark.operators.order import group_argmin

        firsts = group_argmin(keyed, ["simhash"], ["__ts_us", id_col])
        kept = firsts.join(prior.select("simhash"), "simhash", "left_anti")
        kept, kept_handle = checkpoint_eager(kept)
        # new horizon-pruned snapshot: every signature seen recently
        seen = (
            prior.unionByName(
                keyed.groupBy("simhash").agg(
                    F.max("__ts_us").alias("last_seen_us")
                )
            )
            .groupBy("simhash")
            .agg(F.max("last_seen_us").alias("last_seen_us"))
            .filter(F.col("last_seen_us") >= F.lit(horizon))
        )
        for df, sub in (
            (kept.drop("__ts_us"), "kept"),
            (seen, "seen"),
        ):
            (
                df.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(f"{state_path}/{sub}")
            )
        spark.createDataFrame([(batch_id,)], "batch_id long").write.mode(
            "append"
        ).parquet(f"{state_path}/meta")
        # GC superseded snapshots — only the latest (per meta) is ever
        # read, so state storage stays O(horizon), not O(batches);
        # idempotent and crash-safe (leftovers are cleaned next batch)
        from graphdb_neo4j_spark.streaming.sketch import _hadoop_path

        fs, seen_root = _hadoop_path(spark, f"{state_path}/seen")
        if fs.exists(seen_root):
            for st in fs.listStatus(seen_root):
                name = st.getPath().getName()
                if name.startswith("batch_id=") and name.split("=")[1].isdigit():
                    if int(name.split("=")[1]) < batch_id:
                        fs.delete(st.getPath(), True)
        keyed_handle.release()
        kept_handle.release()

    return docs_stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", f"{state_path}/_ckpt_neardup"
    )


def neardup_kept(spark: SparkSession, state_path: str) -> DataFrame:
    """All surviving (deduplicated) documents across batches."""
    return spark.read.parquet(f"{state_path}/kept").drop("batch_id")


def streaming_dedup_spans(
    spans_stream: DataFrame, watermark_delay: str = "1 hour"
) -> DataFrame:
    """Stateful streaming dedup: drop re-delivered spans by
    (trace_id, span identity) within the watermark horizon —
    ``dropDuplicatesWithinWatermark`` keeps state bounded, unlike a
    plain streaming dropDuplicates."""
    keyed = spans_stream.select(
        "trace_id",
        F.col("span_idx"),
        F.timestamp_micros(F.col("start_time")).alias("event_time"),
        "tags",
    ).withWatermark("event_time", watermark_delay)
    return keyed.dropDuplicatesWithinWatermark(["trace_id", "span_idx"])


def progress_metrics(query) -> dict:
    """Operational metrics of a streaming query, folded over all
    progress events so far: rows processed, state rows, and — the one
    that matters for correctness monitoring — ``late_rows_dropped``
    (events that arrived beyond the watermark and were silently
    discarded by a stateful operator).

    Scope note: Spark only counts ``numRowsDroppedByWatermark`` for
    rows that REACH a state operator (stream-stream joins, streaming
    dedup, *GroupsWithState); plain append-mode aggregations filter
    late rows before the state store, so their drops surface only as
    sink-output absence — assert on the sink (the tests do) and treat
    this metric as the join/dedup-path counter.

    At 100 TB a nonzero drop rate is the difference between "the
    pipeline is fine" and "we quietly lost a shard's worth of events";
    surface it next to every watermarked aggregation.
    """
    out = {
        "n_progress_events": 0,
        "input_rows": 0,
        "late_rows_dropped": 0,
        "state_rows": 0,
        "last_watermark": None,
    }
    for p in query.recentProgress:
        out["n_progress_events"] += 1
        out["input_rows"] += int(p.get("numInputRows") or 0)
        wm = (p.get("eventTime") or {}).get("watermark")
        if wm and wm != "1970-01-01T00:00:00.000Z":
            out["last_watermark"] = wm
        for op in p.get("stateOperators") or []:
            out["late_rows_dropped"] += int(
                op.get("numRowsDroppedByWatermark") or 0
            )
            out["state_rows"] = max(
                out["state_rows"], int(op.get("numRowsTotal") or 0)
            )
    return out
