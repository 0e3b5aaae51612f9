"""Graph build (ingest) — the reference's event router as one Spark job.

Re-implements, Spark-first, the per-span Cypher-MERGE pipeline of
``/root/reference/events.py:265-519``: ~60k sequential Bolt round-trips
collapse into one declarative plan with a handful of shuffles (window
over process key, window over edge identity, distinct over simple
nodes).

Semantics replicated exactly (see SURVEY.md §1.3, §2.3):

* **pkey resolution** — ProcessGuid if truthy else ``{trace}:{pid}``;
  Source\\* override for events 8/10/25 (events.py:286-296).
* **truthiness coalesce** — falsy tag values (int64 0, bool false, "")
  were normalized to NULL at tag-map build (functions/etl.py), so plain
  ``F.coalesce`` is equivalent.
* **MERGE upsert conflict resolution** — writes are ordered by
  ``(file, start_time, span_idx, seq)`` (sorted glob → stable
  startTime sort → handler statement order).  Node props follow the
  reference's ON CREATE / ON MATCH asymmetry: the *first* write of a
  Process never stores ProcessGuid/ParentProcessGuid (ON CREATE omits
  them, events.py:80-88); later writes are last-non-null.  ``image`` /
  ``CommandLine`` are set on create (possibly NULL) then last-non-null.
  Edge props are bare ``SET`` → last-writer-wins including NULL, except
  ``TAMPERED.details`` (keep-old-if-new-null → last-non-null,
  events.py:173).
* **WMI BIND_TO order dependency** — the only edge whose endpoint nodes
  are MATCHed, not MERGEd (events.py:155-160): the bind silently no-ops
  unless both nodes already exist at that point of the stream.
  Replicated with an order-aware join against the first write of each
  WmiFilter/WmiConsumer name.
* **POSIX basename** — ``Image`` split on ``/`` only; backslashed
  Windows paths keep the full string (events.py:282).

Scale notes: the span DataFrame, with every tag the routes read
projected once, is persisted and read by three route tables — process
writes, edges, simple nodes.  Each table is a list of ``(condition,
row)`` entries emitted by ONE ``Generate`` over the cache (no shuffle),
so a span reaches all of its routes in a single pass and the plan does
not grow with the number of routes.  Only the WMI/registry-value write
selects and the BIND_TO join read the cache on their own.  Conflict
resolution is window/distinct shuffles over the generated rows
(process-key window, edge-identity window, simple-node distinct).  At
100 TB the persist becomes a parquet staging write; everything else is
unchanged.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graphdb_neo4j_spark.functions.etl import (
    canon_event_id,
    posix_basename,
    reg_key_path,
    reg_value_name,
    tag,
)
from graphdb_neo4j_spark.sources.jaeger import read_spans, read_traces

# sparse edge-prop columns (FIXTURES.md §2); all string except event_id
EDGE_PROPS = [
    ("event_id", "long"),
    ("proto", "string"),
    ("dport", "string"),
    ("value_name", "string"),
    ("granted_access", "string"),
    ("details", "string"),
    ("mode", "string"),
    ("what", "string"),
    ("stream", "string"),
    ("hash", "string"),
]

SIMPLE_LABELS = ["Trace", "File", "Ip", "RegistryKey", "Pipe", "Device"]


@dataclass
class PropertyGraph:
    """The engine's canonical graph tables (FIXTURES.md §2)."""

    process: DataFrame  # key, image, command_line, process_guid, parent_process_guid
    registry_value: DataFrame  # path, value_name
    wmi_filter: DataFrame  # name, query
    wmi_consumer: DataFrame  # name, command
    simple: DataFrame  # label, key
    edges: DataFrame  # rel, src, dst, <EDGE_PROPS>
    # caches the build persisted and the tables read through (span
    # cache, parsed traces); released by :meth:`unpersist`
    held: list[DataFrame] = field(default_factory=list)

    def nodes(self) -> DataFrame:
        """Unified ``(label, key)`` view over every node table."""
        parts = [
            self.simple.select("label", "key"),
            self.process.select(F.lit("Process").alias("label"), "key"),
            self.registry_value.select(
                F.lit("RegistryValue").alias("label"), F.col("path").alias("key")
            ),
            self.wmi_filter.select(
                F.lit("WmiFilter").alias("label"), F.col("name").alias("key")
            ),
            self.wmi_consumer.select(
                F.lit("WmiConsumer").alias("label"), F.col("name").alias("key")
            ),
        ]
        return reduce(DataFrame.unionByName, parts)

    def node_counts(self) -> dict[str, int]:
        rows = self.nodes().groupBy("label").count().collect()
        return {r["label"]: r["count"] for r in rows}

    def edge_counts(self) -> dict[str, int]:
        rows = self.edges.groupBy("rel").count().collect()
        return {r["rel"]: r["count"] for r in rows}

    def save(self, path: str, fmt: str = "parquet") -> None:
        """Write graph tables; edges partitioned by rel, nodes by label,
        so rel/label predicates become partition pruning."""
        self.edges.write.format(fmt).mode("overwrite").partitionBy("rel").save(
            f"{path}/edges"
        )
        self.nodes().write.format(fmt).mode("overwrite").partitionBy("label").save(
            f"{path}/nodes"
        )
        self.process.write.format(fmt).mode("overwrite").save(f"{path}/process")
        self.registry_value.write.format(fmt).mode("overwrite").save(
            f"{path}/registry_value"
        )

    def save_bucketed(
        self, name_prefix: str = "graph", buckets: int = 32
    ) -> None:
        """Write edges twice, bucketed+sorted by ``src`` and by ``dst``.

        Bucketed tables let motif/traversal self-joins run WITHOUT a
        shuffle: a chain hop joins ``edges_by_dst.dst == edges_by_src
        .src`` and both sides arrive pre-bucketed on their join key, so
        Catalyst plans a SortMergeJoin with no Exchange.  At 100 TB the
        double write is the cheap part; the per-query shuffle it
        removes is the expensive one.  (Managed tables — location under
        spark.sql.warehouse.dir.)
        """
        spark = self.edges.sparkSession
        for name, key in (
            (f"{name_prefix}_edges_by_src", "src"),
            (f"{name_prefix}_edges_by_dst", "dst"),
        ):
            # the default in-memory metastore forgets tables across
            # sessions but their warehouse directories persist — clear
            # both so overwrite is truly idempotent
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
            loc = os.path.join(warehouse.removeprefix("file:"), name.lower())
            if os.path.exists(loc):
                shutil.rmtree(loc)
            (
                self.edges.write.bucketBy(buckets, key).sortBy(key)
                .mode("overwrite").format("parquet").saveAsTable(name)
            )

    def unpersist(self) -> None:
        """Release the caches the build persisted.  The tables stay
        usable: a later action recomputes from the source."""
        for df in self.held:
            df.unpersist()
        self.held.clear()


def _null(tpe: str = "string") -> Column:
    return F.lit(None).cast(tpe)


def _derive(spans: DataFrame) -> DataFrame:
    """Add the per-span routing/identity columns of events.py:265-296."""
    t = F.col("tags")
    ev = canon_event_id(t)
    is_src_override = ev.isin("8", "10", "25")

    guid0 = tag(t, "ProcessGuid", "process_guid", "ProcessGUID")
    guid = F.when(
        is_src_override,
        F.coalesce(
            guid0, tag(t, "SourceProcessGuid", "SourceProcessGUID", "source_process_guid")
        ),
    ).otherwise(guid0)

    pid0 = tag(t, "ProcessId", "process_id", "pid", "Pid", "processId")
    pid = F.when(
        is_src_override, F.coalesce(pid0, tag(t, "SourceProcessId", "source_process_id"))
    ).otherwise(pid0)

    img0 = tag(t, "Image", "process_path", "ImagePath", "image", "PathToImage")
    img_raw = F.when(is_src_override, F.coalesce(img0, t["SourceImage"])).otherwise(img0)

    pguid = tag(t, "ParentProcessGuid", "parent_process_guid", "ParentProcessGUID")
    ppid = tag(
        t, "ParentProcessId", "parent_pid", "ParentPid", "ppid", "parentPid", "sysmon.ppid"
    )

    trace = F.col("trace_id")
    pkey = F.when(guid.isNotNull(), guid).when(
        pid.isNotNull(), F.concat(trace, F.lit(":"), pid)
    )
    parent_key = F.when(pguid.isNotNull(), pguid).when(
        ppid.isNotNull(), F.concat(trace, F.lit(":"), ppid)
    )

    dst_guid = tag(t, "TargetProcessGuid", "TargetProcessGUID", "target_process_guid")
    dst_pid = tag(t, "TargetProcessId", "TargetPid")
    dst_key = F.when(dst_guid.isNotNull(), dst_guid).when(
        dst_pid.isNotNull(), F.concat(trace, F.lit(":"), dst_pid)
    )

    return spans.select(
        "trace_id",
        "tags",
        F.struct("file", "start_time", "span_idx").alias("ord"),
        ev.alias("ev"),
        ev.try_cast("long").alias("ev_long"),
        guid.alias("guid"),
        pguid.alias("pguid"),
        posix_basename(img_raw).alias("image"),
        tag(t, "CommandLine", "command_line").alias("cmd"),
        pkey.alias("pkey"),
        parent_key.alias("parent_key"),
        dst_guid.alias("dst_guid"),
        dst_key.alias("dst_key"),
    )


def _route(df: DataFrame, table: list[tuple[Column, Column]], *carry: str) -> DataFrame:
    """Emit, beside the ``carry`` columns, the struct of every
    ``(condition, struct)`` entry whose condition holds on a row — one
    ``Generate`` over ``df``, so a span reaches all of its routes in a
    single pass instead of one filter+select branch per route."""
    hits = F.filter(F.array(*[F.when(c, s) for c, s in table]), lambda x: x.isNotNull())
    return df.select(*carry, F.inline(hits))


def build_graph_from_spans(traces: DataFrame, spans: DataFrame) -> PropertyGraph:
    return _build_graph_from_derived(traces, _derive(spans))


def _build_graph_from_derived(traces: DataFrame, derived: DataFrame) -> PropertyGraph:
    """Graph build over an already-derived span DF (the output of
    :func:`_derive`, possibly round-tripped through a parquet stage)."""
    t = F.col("tags")
    # the per-event tag reads, projected once beside the routing columns
    cached = derived.select(
        "*",
        tag(t, "TargetFilename", "Path").alias("target"),
        tag(t, "DestinationIp", "dst_ip").alias("dip"),
        tag(t, "DestinationPort", "dst_port").alias("dport"),
        t["Protocol"].alias("proto"),
        F.lower(t["DestinationHostname"]).alias("dhost"),
        tag(t, "ImageLoaded", "Image").alias("img_loaded"),
        t["Device"].alias("device"),
        t["GrantedAccess"].alias("granted_access"),
        t["TargetObject"].alias("tobj"),
        F.lower(F.coalesce(t["EventType"], F.lit(""))).alias("etype_l"),
        reg_key_path(t["TargetObject"]).alias("kp"),
        reg_value_name(t["TargetObject"]).alias("vn"),
        tag(t, "NewName", "NewDetails").alias("new_name"),
        tag(t, "StreamName", "Stream").alias("stream"),
        tag(t, "Hash", "Hashes").alias("hash"),
        tag(t, "PipeName", "Pipe").alias("pname"),
        tag(t, "Details", "Info").alias("details"),
    ).persist()
    # the route generators and the WMI/registry-value selects each scan
    # this cache; right-size partitions to ~50k spans apiece so small
    # corpora don't pay a task per tiny partition per scan (a no-op at
    # real scale, where spans >> 50k/partition)
    n_spans = cached.count()
    d = cached
    current = d.rdd.getNumPartitions()
    target_parts = max(1, min(current, n_spans // 50_000 + 1))
    if target_parts < current:
        d = d.coalesce(target_parts)

    c = F.col
    # every write, node and edge below hangs off a span's process key
    d = d.filter(c("pkey").isNotNull())
    ev, evp, pkey = c("ev"), c("ev_long"), c("pkey")
    target, tobj, new_name = c("target"), c("tobj"), c("new_name")
    null = _null()
    # built once, shared by every edge route that leaves a prop unset
    nulls = {name: _null(tpe).alias(name) for name, tpe in EDGE_PROPS}

    def on(*ids: str) -> Column:
        return ev.isin(*ids)

    def has(*names: str) -> Column:
        return reduce(Column.__and__, [c(n).isNotNull() for n in names])

    # ------------------------------------------------------------------
    # Process writes: main span + parent stub + event-8/10/25 target stub
    # (each CYPHER["process"] call also MERGEs Trace-[:HAS_PROCESS]->p).
    # seq encodes statement order within one span for upsert resolution;
    # the parent stub passes ProcessGuid=pguid (NULL on the ppid path),
    # everything else NULL (events.py:312-317).
    # ------------------------------------------------------------------
    is_parent = has("parent_key")
    is_target = on("8", "10", "25") & has("dst_key")

    def pw(seq: int, key: str, guid: str, pguid: Column = null,
           image: Column = null, cmd: Column = null) -> Column:
        return F.struct(
            F.lit(seq).alias("seq"), c(key).alias("key"), c(guid).alias("w_guid"),
            pguid.alias("w_pguid"), image.alias("w_image"), cmd.alias("w_cmd"),
        )

    writes = _route(d, [
        (F.lit(True), pw(0, "pkey", "guid", c("pguid"), c("image"), c("cmd"))),
        (is_parent, pw(1, "parent_key", "pguid")),
        (is_target, pw(2, "dst_key", "dst_guid")),
    ], "ord")

    wk = Window.partitionBy("key").orderBy("ord", "seq")
    wk_all = wk.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    rn = F.row_number().over(wk)
    # ON CREATE SET omits ProcessGuid/ParentProcessGuid → the creating
    # write's values are dropped (events.py:80-88)
    guid_eff = F.when(rn == 1, null).otherwise(F.col("w_guid"))
    pguid_eff = F.when(rn == 1, null).otherwise(F.col("w_pguid"))
    process = (
        writes.withColumn("process_guid", F.last(guid_eff, ignorenulls=True).over(wk_all))
        .withColumn("parent_process_guid", F.last(pguid_eff, ignorenulls=True).over(wk_all))
        .withColumn("image_f", F.last("w_image", ignorenulls=True).over(wk_all))
        .withColumn("command_line", F.last("w_cmd", ignorenulls=True).over(wk_all))
        .select("key", F.col("image_f").alias("image"), "command_line",
                "process_guid", "parent_process_guid")
        .dropDuplicates(["key"])
    )

    # ------------------------------------------------------------------
    # Event routes (events.py:321-504): one (condition, row) entry per
    # MERGE the reference issues for a span of that event.
    # ------------------------------------------------------------------
    def edge(rel: str, src: Column, dst: Column, **props: Column) -> Column:
        return F.struct(
            F.lit(rel).alias("rel"), src.alias("src"), dst.alias("dst"),
            *[props[name].alias(name) if name in props else col
              for name, col in nulls.items()],
        )

    net = {"event_id": evp, "proto": c("proto"), "dport": c("dport")}
    renamed = on("14") & has("tobj", "new_name")
    edge_routes = [
        (F.lit(True), edge("HAS_PROCESS", c("trace_id"), pkey)),
        (is_parent, edge("HAS_PROCESS", c("trace_id"), c("parent_key"))),
        (is_target, edge("HAS_PROCESS", c("trace_id"), c("dst_key"))),
        (is_parent, edge("SPAWNS", c("parent_key"), pkey)),
        # 2: FileCreateTime changed
        (on("2") & has("target"), edge("MODIFIED_FILE_TIME", pkey, target,
                                       event_id=evp, what=F.lit("CreationTime"))),
        # 3: NetworkConnect — ip row and (lowercased) hostname row
        (on("3") & has("dip"), edge("CONNECTED_TO", pkey, c("dip"), **net)),
        (on("3") & has("dhost"), edge("CONNECTED_TO", pkey, c("dhost"), **net)),
        # 6 / 7: driver / module load
        (on("6") & has("img_loaded"),
         edge("LOADED_DRIVER", pkey, c("img_loaded"), event_id=evp)),
        (on("7") & has("img_loaded"),
         edge("LOADED_MODULE", pkey, c("img_loaded"), event_id=evp)),
        # 8: CreateRemoteThread (target Process stub is a process write)
        (on("8") & has("dst_key"),
         edge("INJECTED_THREAD", pkey, c("dst_key"), event_id=evp)),
        # 9: RawAccessRead
        (on("9") & has("device"), edge("RAW_READ", pkey, c("device"), event_id=evp)),
        # 10: ProcessAccess
        (on("10") & has("dst_key"), edge("ACCESSED_PROCESS", pkey, c("dst_key"),
                                         event_id=evp, granted_access=c("granted_access"))),
        # 11: FileCreate
        (on("11") & has("target"), edge("CREATED_FILE", pkey, target, event_id=evp)),
        # 12: RegistryKey create/delete — EventType prefix routing; note
        # "DeleteValue" also lands on DELETED_REG_KEY (reference quirk,
        # events.py:395-405)
        (on("12") & has("tobj") & c("etype_l").startswith("create"),
         edge("CREATED_REG_KEY", pkey, tobj, event_id=evp)),
        (on("12") & has("tobj") & c("etype_l").startswith("delete"),
         edge("DELETED_REG_KEY", pkey, tobj, event_id=evp)),
        # 13: RegistryValueSet — TargetObject splits into key path + value name
        (on("13") & has("tobj", "kp"), edge("UNDER_KEY", tobj, c("kp"))),
        (on("13") & has("tobj"),
         edge("SET_REG_VALUE", pkey, tobj, event_id=evp, value_name=c("vn"))),
        # 14: Registry rename.  NOTE deliberate parity-by-omission: the
        # reference ships a RENAMED_REG_VALUE Cypher template
        # (events.py:231-238) but its event-14 handler only
        # ever calls renamed_reg_key (events.py:420-427) — the value-rename
        # template is dead code, so no RENAMED_REG_VALUE edge exists here
        # either.
        (renamed, edge("RENAMED_REG_KEY", pkey, new_name, event_id=evp)),
        (renamed, edge("RENAMED_TO", tobj, new_name)),
        # 15: FileCreateStreamHash
        (on("15") & has("target"), edge("CREATED_STREAM", pkey, target, event_id=evp,
                                        stream=c("stream"), hash=c("hash"))),
        # 17 / 18: pipes
        (on("17") & has("pname"), edge("CREATED_PIPE", pkey, c("pname"), event_id=evp)),
        (on("18") & has("pname"), edge("CONNECTED_PIPE", pkey, c("pname"), event_id=evp)),
        # 23 / 26: FileDelete
        (on("23", "26") & has("target"), edge("DELETED_FILE", pkey, target, event_id=evp)),
        # 25: ProcessTampering (details keeps old when new is NULL)
        (on("25") & has("dst_key"), edge("TAMPERED", pkey, c("dst_key"),
                                         event_id=evp, details=c("details"))),
        # 27 / 29: executable blocked / detected
        (on("27") & has("target"), edge("CREATED_EXECUTABLE", pkey, target,
                                        event_id=evp, mode=F.lit("blocked"))),
        (on("29") & has("target"), edge("CREATED_EXECUTABLE", pkey, target,
                                        event_id=evp, mode=F.lit("detected"))),
    ]

    def node(label: str, key: Column) -> Column:
        return F.struct(F.lit(label).alias("label"), key.alias("key"))

    node_routes = [
        (on("2", "11", "15", "23", "26", "27", "29") & has("target"), node("File", target)),
        (on("3") & has("dip"), node("Ip", c("dip"))),
        (on("3") & has("dhost"), node("Ip", c("dhost"))),
        (on("6", "7") & has("img_loaded"), node("File", c("img_loaded"))),
        (on("9") & has("device"), node("Device", c("device"))),
        (on("12") & has("tobj"), node("RegistryKey", tobj)),
        (on("13") & has("tobj", "kp"), node("RegistryKey", c("kp"))),
        (renamed, node("RegistryKey", tobj)),
        (renamed, node("RegistryKey", new_name)),
        (on("17", "18") & has("pname"), node("Pipe", c("pname"))),
    ]

    # 13: RegistryValue writes
    reg_value_writes = d.filter(on("13") & has("tobj")).select(
        tobj.alias("path"), c("vn").alias("w_value_name"), "ord")

    # 19 / 20: WMI filter / consumer nodes (props last-non-null via
    # SET x = coalesce($new, x))
    wmi_filter_writes = d.filter(
        on("19") & tag(t, "FilterName", "Name", "EventFilterName").isNotNull()
    ).select(
        tag(t, "FilterName", "Name", "EventFilterName").alias("name"),
        tag(t, "Query", "QueryName").alias("w_query"), "ord")
    wmi_consumer_writes = d.filter(
        on("20") & tag(t, "ConsumerName", "Name", "Consumer").isNotNull()
    ).select(
        tag(t, "ConsumerName", "Name", "Consumer").alias("name"),
        tag(t, "CommandLine", "Command").alias("w_command"), "ord")

    # 21: BIND_TO — MATCH (not MERGE) on both endpoints: the edge only
    # lands if both nodes exist *earlier* in the stream (events.py:155-160)
    bind_candidates = d.filter(
        on("21") & tag(t, "FilterName", "Filter").isNotNull()
        & tag(t, "ConsumerName", "Consumer").isNotNull()
    ).select(
        tag(t, "FilterName", "Filter").alias("f_name"),
        tag(t, "ConsumerName", "Consumer").alias("c_name"), "ord", evp.alias("event_id"))
    f_first = wmi_filter_writes.groupBy("name").agg(F.min("ord").alias("f_first"))
    c_first = wmi_consumer_writes.groupBy("name").agg(F.min("ord").alias("c_first"))
    binds = (
        bind_candidates
        .join(F.broadcast(f_first), bind_candidates["f_name"] == f_first["name"])
        .join(F.broadcast(c_first), bind_candidates["c_name"] == c_first["name"])
        .filter((F.col("f_first") < F.col("ord")) & (F.col("c_first") < F.col("ord")))
        .select("ord", edge("BIND_TO", c("f_name"), c("c_name"),
                            event_id=c("event_id")).alias("e"))
        .select("ord", "e.*")
    )

    # ------------------------------------------------------------------
    # Conflict resolution + dedup
    # ------------------------------------------------------------------
    edges_all = _route(d, edge_routes, "ord").unionByName(binds)
    we = Window.partitionBy("rel", "src", "dst").orderBy("ord")
    we_all = we.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    prop_cols = [
        F.last("details", ignorenulls=True).over(we_all).alias("details")
        if name == "details"
        else F.last(name).over(we_all).alias(name)
        for name, _ in EDGE_PROPS
    ]
    edges = (
        edges_all.select("rel", "src", "dst", *prop_cols)
        .dropDuplicates(["rel", "src", "dst"])
    )

    simple = (
        traces.select(F.lit("Trace").alias("label"), F.col("trace_id").alias("key"))
        .unionByName(_route(d, node_routes))
        .filter(F.col("key").isNotNull())
        .distinct()
    )

    wrv = Window.partitionBy("path").orderBy("ord")
    wrv_all = wrv.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    registry_value = (
        reg_value_writes
        .withColumn("value_name", F.last("w_value_name").over(wrv_all))
        .select("path", "value_name")
        .dropDuplicates(["path"])
    )

    def _wmi(writes_df: DataFrame, src_col: str, out_col: str) -> DataFrame:
        w = Window.partitionBy("name").orderBy("ord")
        w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        return (
            writes_df.withColumn(out_col, F.last(src_col, ignorenulls=True).over(w_all))
            .select("name", out_col)
            .dropDuplicates(["name"])
        )

    return PropertyGraph(
        process=process,
        registry_value=registry_value,
        wmi_filter=_wmi(wmi_filter_writes, "w_query", "query"),
        wmi_consumer=_wmi(wmi_consumer_writes, "w_command", "command"),
        simple=simple,
        edges=edges,
        held=[cached],
    )


def corpus_fingerprint(path_glob: str) -> str:
    """Cheap corpus-version key: md5 over sorted (basename, size) — a
    file added, removed, renamed, or resized invalidates the stage."""
    import glob as globmod
    import hashlib

    h = hashlib.md5()
    files = sorted(globmod.glob(path_glob))
    for f in files:
        h.update(f"{os.path.basename(f)}|{os.stat(f).st_size}\n".encode())
    h.update(str(len(files)).encode())
    return h.hexdigest()[:16]


def stage_corpus(spark: SparkSession, path: str, stage_dir: str) -> str:
    """Parse the trace-JSON corpus ONCE into a parquet stage keyed by
    corpus fingerprint; return the stage path.

    The multiLine JSON parse of thousands of tiny files dominates
    ingest cost (one task per file, full JSON tokenization).  The stage
    holds the *derived* span table — routing/identity columns already
    computed — compacted to a few parquet files, so every rebuild
    afterwards is a columnar read.  This is exactly the at-scale
    pattern: raw JSON lands once, the staged columnar table is the
    thing every job reads.  Idempotent: an existing stage for the same
    fingerprint is reused, a changed corpus writes a new one.
    """
    from graphdb_neo4j_spark.sources.jaeger import spans_from_traces

    fp = corpus_fingerprint(path)
    sd = os.path.join(stage_dir, fp)
    marker = os.path.join(sd, "_STAGED")
    if not os.path.exists(marker):
        traces = read_traces(spark, path).persist()
        d = _derive(spans_from_traces(traces))
        # ~60k spans: a handful of compacted files beats 1,202 tiny ones
        par = spark.sparkContext.defaultParallelism
        d.coalesce(max(1, par // 4)).write.mode("overwrite").parquet(
            os.path.join(sd, "spans")
        )
        traces.select("trace_id").write.mode("overwrite").parquet(
            os.path.join(sd, "traces")
        )
        traces.unpersist()
        with open(marker, "w") as fh:
            fh.write(fp)
    return sd


def build_graph(
    spark: SparkSession, path: str, stage_dir: str | None = None
) -> PropertyGraph:
    """End-to-end: trace-JSON glob → property-graph tables.

    Without ``stage_dir`` the JSON corpus is parsed ONCE per call: the
    trace-level DataFrame is persisted and both the Trace nodes and the
    exploded span stream derive from it (multiLine JSON parse dominates
    ingest cost).  With ``stage_dir`` the parse happens once per corpus
    VERSION (see :func:`stage_corpus`) and rebuilds read the columnar
    stage."""
    from graphdb_neo4j_spark.sources.jaeger import spans_from_traces

    if stage_dir is not None:
        sd = stage_corpus(spark, path, stage_dir)
        traces = spark.read.parquet(os.path.join(sd, "traces"))
        derived = spark.read.parquet(os.path.join(sd, "spans"))
        return _build_graph_from_derived(traces, derived)

    traces = read_traces(spark, path).persist()
    g = build_graph_from_spans(traces, spans_from_traces(traces))
    g.held.append(traces)
    return g
