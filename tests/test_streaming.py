"""Structured Streaming tests: incremental ingest equivalence + windows."""

from __future__ import annotations

import glob
import shutil

import pytest
from pyspark.sql import functions as F

from graphdb_neo4j_spark.operators.ingest import build_graph
from graphdb_neo4j_spark.streaming import (
    compact_graph_log,
    stream_graph_ingest,
    stream_spans,
    windowed_event_counts,
)

N_FILES = 40
HOUR_US = 3_600_000_000


@pytest.fixture(scope="module")
def trace_dir(tmp_path_factory, write_traces):
    """The first N_FILES reference corpus files where the corpus is
    present, else 4 written traces spanning 16 hours of event time (so
    the windowed tests' watermarks close windows)."""
    d = tmp_path_factory.mktemp("traces")
    files = sorted(glob.glob("/root/reference/malware/*.json"))[:N_FILES]
    for p in files:
        shutil.copy(p, d)
    if not files:
        write_traces(d, n_files=4)
    return str(d)


def test_streaming_ingest_matches_batch(spark, trace_dir, tmp_path):
    log = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    q = stream_graph_ingest(spark, f"{trace_dir}/*.json", log, ckpt)
    q.awaitTermination(300)

    tables = compact_graph_log(spark, log)
    batch = build_graph(spark, f"{trace_dir}/*.json")

    stream_edges = {
        (r.rel, r["count"]) for r in tables["edges"].groupBy("rel").count().collect()
    }
    batch_edges = set(batch.edge_counts().items())
    assert stream_edges == batch_edges

    stream_nodes = {
        (r.label, r["count"]) for r in tables["nodes"].groupBy("label").count().collect()
    }
    batch_nodes = set(batch.node_counts().items())
    assert stream_nodes == batch_nodes


def test_streaming_ingest_incremental_restart(spark, trace_dir, tmp_path):
    """New files after a first run are picked up by a restarted query
    (checkpoint-driven incremental), and compaction stays idempotent."""
    import json

    log = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    q = stream_graph_ingest(spark, f"{trace_dir}/*.json", log, ckpt)
    q.awaitTermination(300)
    n1 = compact_graph_log(spark, log)["nodes"].count()

    extra = {
        "traceID": "stream-extra",
        "spans": [
            {
                "spanID": "s1",
                "startTime": 1,
                "tags": [
                    {"key": "ID", "type": "int64", "value": 1},
                    {"key": "ProcessGuid", "type": "string", "value": "G-STREAM"},
                ],
            }
        ],
    }
    with open(f"{trace_dir}/zz_extra.json", "w", encoding="utf-8-sig") as f:
        json.dump(extra, f)
    try:
        q2 = stream_graph_ingest(spark, f"{trace_dir}/*.json", log, ckpt)
        q2.awaitTermination(300)
        compacted = compact_graph_log(spark, log)
        n2 = compacted["nodes"].count()
        assert n2 == n1 + 2  # new Trace + new Process
        assert (
            compacted["process"].filter(F.col("key") == "G-STREAM").count() == 1
        )
    finally:
        import os

        os.remove(f"{trace_dir}/zz_extra.json")


def test_compaction_cross_batch_last_non_null(spark, tmp_path):
    """A property learned in an EARLIER batch survives a later batch's
    NULL write: compaction folds in batch order with last-non-null, not
    arbitrary dropDuplicates."""
    import json

    d = tmp_path / "traces"
    d.mkdir()
    log = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")

    def trace(trace_id, tags):
        return {
            "traceID": trace_id,
            "spans": [{"spanID": "s1", "startTime": 1,
                       "tags": [{"key": k, "type": "string", "value": v}
                                for k, v in tags.items()]}],
        }

    with open(d / "a_first.json", "w", encoding="utf-8-sig") as f:
        json.dump(trace("t1", {"ID": "1", "ProcessGuid": "G-CROSS",
                               "CommandLine": "CMD1"}), f)
    q = stream_graph_ingest(spark, f"{d}/*.json", log, ckpt)
    q.awaitTermination(300)

    # later batch re-writes the same process with NO CommandLine
    with open(d / "b_second.json", "w", encoding="utf-8-sig") as f:
        json.dump(trace("t2", {"ID": "1", "ProcessGuid": "G-CROSS"}), f)
    q2 = stream_graph_ingest(spark, f"{d}/*.json", log, ckpt)
    q2.awaitTermination(300)

    proc = compact_graph_log(spark, log)["process"]
    rows = proc.filter(F.col("key") == "G-CROSS").collect()
    assert len(rows) == 1
    assert rows[0]["command_line"] == "CMD1"


def test_windowed_event_counts(spark, trace_dir, tmp_path):
    stream = stream_spans(spark, f"{trace_dir}/*.json")
    agg = windowed_event_counts(stream, "1 hour", "2 hours")
    out = str(tmp_path / "win_out")
    ckpt = str(tmp_path / "win_ckpt")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # append mode emits only watermark-closed windows; with availableNow
    # the final watermark closes all but the last window(s)
    res = spark.read.parquet(out)
    assert res.columns == ["window_start_epoch", "ev", "n_spans"]
    got = sorted(map(tuple, res.collect()), key=repr)
    want = _closed_window_counts(trace_dir, window_us=HOUR_US, delay_us=2 * HOUR_US)
    assert got == want
    assert got  # the watermark closed windows (13 on the written traces)


def _closed_window_counts(trace_dir, window_us, delay_us):
    """``(window_start_epoch, ev, n_spans)`` rows of the tumbling
    windows that the final watermark (max event time − delay) closes,
    computed in Python from the trace files: the reader's falsy-tag
    rule (``tags_map``) and EventID canonicalization
    (``canon_event_id``), with every file in one micro-batch so no row
    is late."""
    import json
    from collections import Counter

    spans = []
    for path in sorted(glob.glob(f"{trace_dir}/*.json")):
        with open(path, encoding="utf-8-sig") as f:
            doc = json.load(f)
        for s in doc.get("spans") or []:
            tags = {}
            for t in s.get("tags") or []:
                v = t.get("value")
                v = None if v is None else (
                    str(v).lower() if isinstance(v, bool) else str(v)
                )
                falsy = (
                    (t.get("type") == "int64" and v == "0")
                    or (t.get("type") == "bool" and v == "false")
                    or v == ""
                )
                tags[t.get("key")] = None if falsy else v
            ev = tags.get("EventID")
            if ev is not None:
                try:
                    ev = None if int(ev) == 0 else str(int(ev))
                except ValueError:
                    pass
            spans.append((s.get("startTime") or 0, ev or tags.get("ID")))
    watermark = max(t for t, _ in spans) - delay_us
    counts = Counter(
        (t // window_us * window_us // 1_000_000, ev)
        for t, ev in spans
        if t // window_us * window_us + window_us <= watermark
    )
    return sorted(((w, ev, n) for (w, ev), n in counts.items()), key=repr)


def test_stateful_process_tracker(spark, trace_dir, tmp_path):
    from graphdb_neo4j_spark.streaming.ingest import stateful_process_tracker

    stream = stream_spans(spark, f"{trace_dir}/*.json")
    tracked = stateful_process_tracker(stream)
    out = str(tmp_path / "state_out")

    def sink(batch_df, batch_id):  # parquet doesn't support update mode
        batch_df.write.mode("append").parquet(out)

    q = (
        tracked.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "state_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # the event-time timeout lets availableNow finish: one data batch,
    # then one no-data batch that expires state behind the watermark
    assert q.awaitTermination(300) is True
    res = spark.read.parquet(out)
    assert res.columns == ["key", "first_seen_us", "last_seen_us", "n_spans"]
    rows = res.collect()
    assert len(rows) > 0
    assert all(r.first_seen_us <= r.last_seen_us for r in rows)
    # cross-check against the batch derive: same per-key span counts
    from graphdb_neo4j_spark.operators.ingest import _derive
    from graphdb_neo4j_spark.sources.jaeger import read_spans

    batch = (
        _derive(read_spans(spark, f"{trace_dir}/*.json"))
        .filter(F.col("pkey").isNotNull())
        .groupBy("pkey")
        .count()
    )
    batch_counts = {r.pkey: r["count"] for r in batch.collect()}
    # update-mode emits one row per key per batch; take the last per key
    latest = {r.key: r.n_spans for r in rows}
    assert latest == batch_counts
    # state expires: the store keeps exactly the keys whose timeout (last
    # span + 60 min of event time) the final watermark has not passed
    from datetime import datetime

    wm = q.lastProgress["eventTime"]["watermark"].replace("Z", "+00:00")
    wm_ms = int(datetime.fromisoformat(wm).timestamp() * 1000)
    due = {r.key for r in rows if r.last_seen_us // 1000 + 3_600_000 < wm_ms}
    kept = {
        r.key[0]
        for r in spark.read.format("statestore")
        .load(str(tmp_path / "state_ckpt"))
        .collect()
    }
    assert kept == set(latest) - due


def test_streaming_dedup_spans(spark, trace_dir, tmp_path):
    import shutil

    from graphdb_neo4j_spark.streaming.ingest import streaming_dedup_spans

    # duplicate one trace file under a second name → re-delivered spans
    dup_dir = tmp_path / "dup_in"
    dup_dir.mkdir()
    import glob as g_

    files = sorted(g_.glob(f"{trace_dir}/*.json"))[:3]
    for p in files:
        shutil.copy(p, dup_dir)
    shutil.copy(files[0], dup_dir / "zz_redelivered.json")

    stream = stream_spans(spark, f"{dup_dir}/*.json")
    deduped = streaming_dedup_spans(stream)
    out = str(tmp_path / "dedup_out")
    q = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    res = spark.read.parquet(out)
    n_unique_spans = spark.read.parquet(out).select("trace_id", "span_idx").distinct().count()
    # the re-delivered file's spans share (trace_id, span_idx) → dropped
    assert res.count() == n_unique_spans


def test_streaming_neardup_dedup(spark, tmp_path):
    """Relational streaming near-dup dedup: identical-simhash documents
    re-delivered within the watermark are dropped (within AND across
    micro-batches), state expires past the horizon, and the surviving
    set matches the batch simhash_dedup keep set over the same data —
    with no F.aggregate fold anywhere in the plan."""
    from graphdb_neo4j_spark.operators.dedup import simhash_dedup
    from graphdb_neo4j_spark.streaming import neardup_kept, streaming_neardup_dedup

    src = tmp_path / "docs"
    src.mkdir()
    base = "the quick brown fox jumps over the lazy dog"
    hour = 3_600_000_000
    batches = [
        [(1, base, 1_000_000),
         (2, base, 2_000_000)],              # in-batch re-delivery → dropped
        [(3, "completely different text about engines", 3_000_000),
         (4, base, 4_000_000)],              # cross-batch re-delivery → dropped
        [(5, base, 5 * hour)],               # horizon expired → kept again
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            rows, "doc_id long, text string, ts_us long"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / f"b{i}"))

    stream = (
        spark.readStream.schema("doc_id long, text string, ts_us long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "b*"))
        .withColumn("event_time", F.timestamp_micros(F.col("ts_us")))
    )
    state = str(tmp_path / "nd_state")
    q = streaming_neardup_dedup(stream, state).trigger(availableNow=True).start()
    q.awaitTermination(300)

    kept = {r.doc_id for r in neardup_kept(spark, state).collect()}
    assert kept == {1, 3, 5}
    # multiple batches actually ran
    n_batches = (
        spark.read.parquet(f"{state}/meta").select("batch_id").distinct().count()
    )
    assert n_batches >= 3

    # stream ≡ batch signatures: within one horizon, the streaming keep
    # set equals batch simhash_dedup's keep_id set (min-id == first-by-
    # time here since ids are time-ordered)
    in_horizon = spark.createDataFrame(
        batches[0] + batches[1], "doc_id long, text string, ts_us long"
    )
    batch_keep = {
        r.keep_id for r in simhash_dedup(in_horizon).collect()
    }
    assert batch_keep == {1, 3}


def test_streaming_ann_probe(spark, tmp_path):
    """Streaming ANN against the materialized LSH index: the
    stream-static candidate join equals the same plan run in batch, a
    query vector always matches itself at sim 1.0, and the foreachBatch
    top-k equals a direct indexed probe."""
    from graphdb_neo4j_spark.operators.similarity import (
        lsh_index_write,
        topk_lsh_indexed,
    )
    from graphdb_neo4j_spark.streaming.ann import (
        streaming_ann_candidates,
        streaming_ann_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx_path = str(tmp_path / "lsh_idx")
    kw = dict(dims=64, planes=4, tables=2, seed=42)
    lsh_index_write(emb, idx_path, **kw)
    index = spark.read.parquet(idx_path)

    qdir = str(tmp_path / "queries")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    queries.write.parquet(qdir)

    # batch reference: same candidate plan on the same inputs
    batch_cand = {
        (r.query_id, r.match_id, r.sim)
        for r in streaming_ann_candidates(
            spark.read.parquet(qdir), index, **kw
        ).collect()
    }
    assert batch_cand, "no candidates at all — bucket mismatch?"
    for qid in (0, 1, 2):
        assert (qid, qid, 1.0) in batch_cand  # self-match in own bucket

    stream = spark.readStream.schema(
        "query_id long, qv array<float>"
    ).parquet(qdir)
    (
        streaming_ann_candidates(stream, index, **kw)
        .writeStream.format("memory")
        .queryName("ann_cand")
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    stream_cand = {
        (r.query_id, r.match_id, r.sim)
        for r in spark.sql("SELECT * FROM ann_cand").collect()
    }
    assert stream_cand == batch_cand

    out_path = str(tmp_path / "ann_out")
    streaming_ann_topk(
        stream, idx_path, out_path, k=5, **kw
    ).trigger(availableNow=True).start().awaitTermination(120)
    got = {
        (r.query_id, r.id, r.sim)
        for r in spark.read.parquet(out_path).collect()
    }
    want = set()
    for qid in (0, 1, 2):
        qv = [float(x) for x in emb.filter(F.col("vec_id") == qid).head()[1]]
        for r in topk_lsh_indexed(spark, idx_path, qv, k=5, **kw).collect():
            want.add((qid, r.id, r.sim))
    assert got == want


def _run_docs_stream(spark, src, ckpt, build):
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = build(stream).option("checkpointLocation", ckpt).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(300)


def test_streaming_tfidf_prefix_equivalence(spark, tmp_path):
    """Each micro-batch's documents are scored with the document
    frequencies accumulated over all batches SO FAR — batch b's output
    equals the batch operator run on the union of batches 0..b,
    restricted to batch b's documents.  Second run reuses the
    checkpoint (restart), so the dfreq state must survive."""
    from graphdb_neo4j_spark.operators.text import tfidf_top_terms
    from graphdb_neo4j_spark.streaming import compact_dfreq_log, streaming_tfidf

    src, ckpt, state = (
        str(tmp_path / "docs"),
        str(tmp_path / "ck"),
        str(tmp_path / "state"),
    )
    docs1 = spark.createDataFrame(
        [
            (1, "spark shuffles data across the cluster"),
            (2, "spark broadcasts small tables"),
            (3, ""),  # empty doc: counted in N, contributes no terms
        ],
        "doc_id long, text string",
    )
    docs2 = spark.createDataFrame(
        [
            (4, "spark prunes parquet partitions"),
            (5, "the cluster prunes nothing"),
        ],
        "doc_id long, text string",
    )

    def build(stream):
        return streaming_tfidf(stream, state, k=3)

    docs1.coalesce(1).write.mode("append").parquet(src)
    _run_docs_stream(spark, src, ckpt, build)
    docs2.coalesce(1).write.mode("append").parquet(src)
    _run_docs_stream(spark, src, ckpt, build)

    got = spark.read.parquet(f"{state}/topk")

    def key(df):
        return {
            (r.doc_id, r.term, r.tf, r.dfreq, round(r.tfidf, 6))
            for r in df.collect()
        }

    want1 = tfidf_top_terms(docs1, k=3)
    assert key(got.filter(F.col("batch_id") == 0)) == key(want1)
    want2 = tfidf_top_terms(docs1.unionByName(docs2), k=3).filter(
        F.col("doc_id").isin(4, 5)
    )
    assert key(got.filter(F.col("batch_id") == 1)) == key(want2)

    # compaction folds the delta log without changing the cumulative view
    before = {
        (r.term, r.dfreq)
        for r in spark.read.parquet(f"{state}/dfreq_log")
        .groupBy("term")
        .agg(F.sum("df_delta").alias("dfreq"))
        .collect()
    }
    compact_dfreq_log(spark, state)
    after = {
        (r.term, r.dfreq)
        for r in spark.read.parquet(f"{state}/dfreq_log")
        .groupBy("term")
        .agg(F.sum("df_delta").alias("dfreq"))
        .collect()
    }
    assert before == after


def test_streaming_chunks_offset_continuity(spark, tmp_path):
    """Global chunk sequence numbers are contiguous and gap-free across
    micro-batches and a stream restart; chunk content matches the batch
    operator on the full corpus."""
    from graphdb_neo4j_spark.operators.text import chunk_documents
    from graphdb_neo4j_spark.streaming import streaming_chunks

    src, ckpt, state = (
        str(tmp_path / "docs"),
        str(tmp_path / "ck"),
        str(tmp_path / "state"),
    )
    docs1 = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "k l m n o"),
        ],
        "doc_id long, text string",
    )
    docs2 = spark.createDataFrame(
        [(3, "p q r s t u v w")],
        "doc_id long, text string",
    )

    def build(stream):
        return streaming_chunks(stream, state, chunk_tokens=4, overlap=1)

    docs1.coalesce(1).write.mode("append").parquet(src)
    _run_docs_stream(spark, src, ckpt, build)
    docs2.coalesce(1).write.mode("append").parquet(src)
    _run_docs_stream(spark, src, ckpt, build)

    got = spark.read.parquet(f"{state}/chunks").collect()
    seqs = sorted(r.seq for r in got)
    assert seqs == list(range(len(got)))  # contiguous, no dups, no gaps

    # batch-0 docs occupy the low offsets, in (doc_id, chunk_id) order
    b0 = sorted(
        ((r.doc_id, r.chunk_id), r.seq) for r in got if r.batch_id == 0
    )
    assert [s for _, s in b0] == list(range(len(b0)))

    want = {
        (r.doc_id, r.chunk_id, r.tok_start, r.n_chunk_tokens, r.chunk_text)
        for r in chunk_documents(
            docs1.unionByName(docs2), chunk_tokens=4, overlap=1
        ).collect()
    }
    assert {
        (r.doc_id, r.chunk_id, r.tok_start, r.n_chunk_tokens, r.chunk_text)
        for r in got
    } == want


def test_streaming_neardup_null_text_and_seen_gc(spark, tmp_path):
    """NULL-text documents flow through under the sentinel signature
    (dedup among themselves, never silently lost), and superseded
    seen-snapshot partitions are garbage-collected so state storage is
    O(horizon), not O(batches)."""
    import os

    from graphdb_neo4j_spark.streaming import neardup_kept, streaming_neardup_dedup

    src = tmp_path / "docs"
    src.mkdir()
    batches = [
        [(1, "real text document here", 1_000_000), (2, None, 2_000_000)],
        [(3, None, 3_000_000), (4, "another real document", 4_000_000)],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            rows, "doc_id long, text string, ts_us long"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema("doc_id long, text string, ts_us long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "b*"))
        .withColumn("event_time", F.timestamp_micros(F.col("ts_us")))
    )
    state = str(tmp_path / "nd_state")
    q = streaming_neardup_dedup(stream, state).trigger(availableNow=True).start()
    q.awaitTermination(300)

    kept = {r.doc_id for r in neardup_kept(spark, state).collect()}
    # doc 2 (first NULL) kept; doc 3 (second NULL, same sentinel) dropped
    assert kept == {1, 2, 4}
    # GC: only the latest seen snapshot partition remains
    parts = [
        d for d in os.listdir(f"{state}/seen") if d.startswith("batch_id=")
    ]
    assert len(parts) == 1


def test_sketch_compaction_survives_commit_log_purge(spark, tmp_path):
    """Batches whose commit-log entries Spark has purged are still
    folded (purge is oldest-first, so ids below the retained floor were
    committed): the estimate is unchanged and no delta is stranded."""
    import os

    from graphdb_neo4j_spark.streaming.sketch import (
        compact_sketch_log,
        hll_estimate,
        streaming_hll,
    )
    from graphdb_neo4j_spark.operators.sketch import hll_distinct

    d = str(tmp_path / "items")
    rows = [(f"v{i % 300}",) for i in range(2000)]
    df = spark.createDataFrame(rows, ["item"])
    df.repartition(6).write.mode("overwrite").parquet(d)
    state = str(tmp_path / "hll_state")
    stream = spark.readStream.schema("item string").option(
        "maxFilesPerTrigger", "2"
    ).parquet(d)
    q = streaming_hll(stream, "item", state).trigger(availableNow=True).start()
    q.awaitTermination(300)
    want = hll_distinct(df, "item").head()

    # simulate Spark's commit-log retention purge: drop the oldest entry
    commits = f"{state}/_ckpt_hll/commits"
    oldest = sorted(f for f in os.listdir(commits) if f.isdigit())[0]
    os.remove(f"{commits}/{oldest}")

    compact_sketch_log(spark, state, "hll")
    assert hll_estimate(spark, state).head() == want
    n_parts = (
        spark.read.parquet(f"{state}/hll_log")
        .select("batch_id").distinct().count()
    )
    assert n_parts == 1  # everything folded — nothing stranded


# --------------------------------------------------------------------------
# stream-stream interval join (round 3)
# --------------------------------------------------------------------------

def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Inner stream-stream interval join (purchases ⋈ views within the
    preceding hour, keyed on user) equals the identical batch join —
    watermark + event-time constraint bound the state, so this is the
    production correlation shape, not a toy."""
    from graphdb_neo4j_spark.sources.tables import load_table
    from graphdb_neo4j_spark.streaming.join import (
        interval_join,
        run_interval_join_stream,
    )

    e = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "ts", "event_type", "value", "event_id"
    )
    purchases = e.filter(F.col("event_type") == "purchase")
    views = e.filter(F.col("event_type") == "view")

    batch = interval_join(purchases, views, lookback="1 hour")
    batch_rows = {tuple(r) for r in batch.collect()}
    assert batch_rows, "fixture must produce at least one joined pair"

    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    # two files per side so the join spans micro-batch input splits
    purchases.repartition(2).write.parquet(lsrc)
    views.repartition(2).write.parquet(rsrc)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    schema = "user_id long, ts timestamp, event_type string, value double, event_id long"
    run_interval_join_stream(
        lsrc, rsrc, out, ckpt, spark, schema, lookback="1 hour"
    )
    got = {tuple(r) for r in spark.read.parquet(out).select(*batch.columns).collect()}
    assert got == batch_rows


def test_stream_stream_left_outer_emits_unmatched(spark, tmp_path):
    """left_outer: purchases with no preceding view emit NULL right
    columns once the right watermark passes their window.  A far-future
    sentinel row on the view side pushes the final watermark so all
    outer results flush under availableNow."""
    import datetime as dt

    from graphdb_neo4j_spark.streaming.join import run_interval_join_stream

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    far = dt.datetime(2024, 3, 1, 0, 0, 0)
    # the GLOBAL watermark is the MIN across both inputs, so BOTH sides
    # need a far-future sentinel for outer-state eviction to reach t0
    # (the sentinels themselves stay in state at shutdown — fine)
    purchases = spark.createDataFrame(
        [
            (1, t0, "purchase", 5.0, 101),
            (2, t0, "purchase", 7.0, 102),
            (8, far, "purchase", 0.0, 998),  # watermark sentinel
        ],
        "user_id long, ts timestamp, event_type string, value double, event_id long",
    )
    views = spark.createDataFrame(
        [
            (1, t0 - dt.timedelta(minutes=30), "view", 1.0, 201),
            (9, far, "view", 0.0, 999),  # watermark sentinel
        ],
        "user_id long, ts timestamp, event_type string, value double, event_id long",
    )
    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    purchases.write.parquet(lsrc)
    views.write.parquet(rsrc)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    schema = "user_id long, ts timestamp, event_type string, value double, event_id long"
    run_interval_join_stream(
        lsrc, rsrc, out, ckpt, spark, schema,
        lookback="1 hour", how="left_outer",
    )
    got = spark.read.parquet(out)
    matched = got.filter(F.col("user_id") == 1).collect()
    unmatched = got.filter(F.col("user_id") == 2).collect()
    assert len(matched) == 1 and matched[0].r_event_id == 201
    assert len(unmatched) == 1 and unmatched[0].r_event_id is None


def test_interval_join_state_metrics(spark, tmp_path):
    """Stream-stream join state is a state operator: progress_metrics
    surfaces its buffered state rows (the 100 TB state-size signal)."""
    from graphdb_neo4j_spark.sources.tables import load_table
    from graphdb_neo4j_spark.streaming.ingest import progress_metrics
    from graphdb_neo4j_spark.streaming.join import run_interval_join_stream

    e = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "ts", "event_type", "value", "event_id"
    )
    e.filter(F.col("event_type") == "purchase").write.parquet(str(tmp_path / "l"))
    e.filter(F.col("event_type") == "view").write.parquet(str(tmp_path / "r"))
    schema = "user_id long, ts timestamp, event_type string, value double, event_id long"
    q = run_interval_join_stream(
        str(tmp_path / "l"), str(tmp_path / "r"),
        str(tmp_path / "out"), str(tmp_path / "ckpt"),
        spark, schema, lookback="1 hour",
    )
    m = progress_metrics(q)
    assert m["n_progress_events"] >= 1
    assert m["input_rows"] > 0
    assert m["state_rows"] > 0  # join buffers both sides in the store


def _protobuf_available() -> bool:
    # transformWithState's Python worker speaks protobuf to the JVM;
    # absent the dependency the op cannot run (documented constraint in
    # streaming/state.py) -- the operator surface is still importable.
    try:
        from google.protobuf import descriptor  # noqa: F401
        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _protobuf_available(),
    reason="transformWithState needs google.protobuf in the Python env",
)
def test_transform_with_state_user_totals(spark, tmp_path):
    """Spark-4 transformWithState: streamed per-user running totals ≡
    the batch aggregate, exact integer cents, across 3 micro-batches."""
    from graphdb_neo4j_spark.sources.tables import load_table
    from graphdb_neo4j_spark.streaming.state import streaming_user_totals

    sf = "/root/testdata/sf0.001"
    events = load_table(spark, sf, "events")
    src = str(tmp_path / "tws_in")
    ordered = events.orderBy("ts", "event_id").collect()
    n = len(ordered)
    step = (n + 2) // 3
    for i, lo in enumerate(range(0, n, step)):
        spark.createDataFrame(ordered[lo: lo + step], events.schema).coalesce(
            1
        ).write.mode("overwrite").parquet(f"{src}/part{i}")
    stream = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(f"{src}/part*")
    out = str(tmp_path / "tws_out")

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    q = (
        streaming_user_totals(stream)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    res = spark.read.parquet(out).collect()
    # update mode: several rows per key — the LAST (max n_events) wins
    latest: dict[int, tuple[int, int]] = {}
    for r in res:
        cur = latest.get(r.user_id)
        if cur is None or r.n_events > cur[0]:
            latest[r.user_id] = (r.n_events, r.total_cents)
    batch = (
        events.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("tc"),
        )
        .collect()
    )
    want = {r.user_id: (r.n, r.tc) for r in batch}
    assert latest == want


def test_graph_asof_time_travel(spark, trace_dir, tmp_path):
    """graph_asof: the log folded at batch horizon B equals a batch
    build over exactly the files those batches ingested; the final
    horizon equals full compaction."""
    import glob as _glob

    from graphdb_neo4j_spark.streaming.ingest import (
        compact_graph_log,
        graph_asof,
        stream_graph_ingest,
    )

    files = sorted(_glob.glob(f"{trace_dir}/*.json"))
    assert len(files) >= 2
    log = str(tmp_path / "asof_log")
    ckpt = str(tmp_path / "asof_ckpt")
    # two batches: maxFilesPerTrigger=half → deterministic file split
    import graphdb_neo4j_spark.streaming.ingest as SI

    half = (len(files) + 1) // 2

    stream = SI.stream_spans(spark, f"{trace_dir}/*.json", max_files_per_trigger=half)
    # replicate stream_graph_ingest's writer on the throttled stream
    from pyspark.sql import functions as F2

    def process_batch(batch_traces, batch_id):
        spans = batch_traces
        traces = spans.select("trace_id").distinct()
        from graphdb_neo4j_spark.operators.ingest import build_graph_from_spans

        g = build_graph_from_spans(traces, spans)
        bid = F2.lit(int(batch_id)).alias("batch_id")
        for name, df in (
            ("edges", g.edges),
            ("nodes", g.nodes()),
            ("process", g.process),
            ("registry_value", g.registry_value),
        ):
            df.select("*", bid).write.mode("append").partitionBy(
                "batch_id"
            ).parquet(f"{log}/{name}")

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    max_bid = (
        spark.read.parquet(f"{log}/edges").agg(F2.max("batch_id")).head()[0]
    )
    assert max_bid >= 1  # really multiple batches
    # final horizon ≡ full compaction (collected-multiset compare —
    # exceptAll over the window-folded frames trips a Catalyst
    # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND bug, same as graph_diff hit)
    def rows(df):
        return sorted(map(tuple, df.collect()))

    full = compact_graph_log(spark, log)
    asof_last = graph_asof(spark, log, max_bid)
    for t in ("edges", "nodes", "process"):
        assert rows(full[t]) == rows(asof_last[t]), t
    # horizon 0 is a strict prefix: fewer nodes, all present in full
    asof0 = graph_asof(spark, log, 0)
    n0 = {tuple(r) for r in asof0["nodes"].collect()}
    nf = {tuple(r) for r in full["nodes"].collect()}
    assert len(n0) < len(nf) and n0 <= nf


def test_sliding_user_engagement_stream_equals_batch(spark, tmp_path):
    """Streaming sliding-window distinct users: emitted (closed) windows
    must match the batch application of the SAME transformation row for
    row — and the batch side is q127's n_users semantics."""
    import datetime as dt

    from graphdb_neo4j_spark.streaming.windows import sliding_user_engagement

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for i in range(500):
        # users 0-24 cycling over ~5 hours, duplicates within windows
        rows.append((base + dt.timedelta(seconds=37 * i), i % 25))
        rows.append((base + dt.timedelta(seconds=37 * i), i % 25))  # dup row
    src_dir = str(tmp_path / "ev_src")
    batch_df = spark.createDataFrame(rows, ["ts", "user_id"])
    batch_df.write.parquet(src_dir)

    stream = spark.readStream.schema("ts timestamp, user_id bigint").parquet(src_dir)
    agg = sliding_user_engagement(stream)
    out = str(tmp_path / "slide_out")
    ckpt = str(tmp_path / "slide_ckpt")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        r.ws_epoch: r.n_users for r in spark.read.parquet(out).collect()
    }
    want = {
        r.ws_epoch: r.n_users
        for r in sliding_user_engagement(
            spark.read.parquet(src_dir)
        ).collect()
    }
    # append mode withholds only windows the final watermark left open
    assert len(got) >= len(want) - 12, (len(got), len(want))
    for ws, n in got.items():
        assert want[ws] == n, (ws, n, want.get(ws))


def test_streaming_connected_components_incremental(spark, tmp_path):
    """Incremental CC over 3 micro-batches must equal batch
    connected_components over the union of all edges — including
    cross-batch component merges and a self-loop-only vertex."""
    from graphdb_neo4j_spark.operators.traversal import connected_components
    from graphdb_neo4j_spark.streaming.graph_analytics import (
        components_state,
        streaming_connected_components,
    )

    batches = [
        [("a", "b"), ("c", "d"), ("x", "y")],
        [("b", "c"), ("p", "q")],          # merges {a,b} with {c,d}
        [("y", "a"), ("z", "z")],          # merges {x,y} in; z self-loop
    ]
    src_dir = str(tmp_path / "edges_src")
    state = str(tmp_path / "cc_state")
    import os

    os.makedirs(src_dir, exist_ok=True)
    all_edges = []
    for i, rows in enumerate(batches):
        all_edges += rows
        spark.createDataFrame(rows, ["src", "dst"]).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
        stream = spark.readStream.schema("src string, dst string").parquet(src_dir)
        q = streaming_connected_components(stream, state).trigger(
            availableNow=True
        ).start()
        q.awaitTermination(180)

    got = {r.v: r.component for r in components_state(spark, state).collect()}
    nodes = sorted({x for e in all_edges for x in e})
    ndf = spark.createDataFrame([(n,) for n in nodes], ["key"])
    edf = spark.createDataFrame(all_edges, ["src", "dst"])
    want = {r.key: r.component for r in connected_components(ndf, edf).collect()}
    assert got == want
    # explicit merge checks
    assert got["a"] == got["d"] == got["x"] == "a"
    assert got["p"] == got["q"] == "p"
    assert got["z"] == "z"


def test_streaming_cc_rewrites_only_touched_shards(spark, tmp_path):
    """A batch that merges one component must NOT rewrite shards that
    hold only unrelated components: their live version stays at the
    older batch_id (per-shard latest-committed wins), and the final
    state still equals the batch rebuild."""
    import os
    import re

    from graphdb_neo4j_spark.operators.traversal import connected_components
    from graphdb_neo4j_spark.streaming.graph_analytics import (
        components_state,
        streaming_connected_components,
    )

    # 64 shards so the two independent vertex groups land apart with
    # near-certainty (xxhash64 is fixed — this layout is deterministic)
    batches = [
        [(f"iso{i}a", f"iso{i}b") for i in range(8)],  # 8 isolated pairs
        [("m1", "m2")],                                # new, small component
        [("m2", "m3")],                                # merges only m*
    ]
    src_dir = str(tmp_path / "edges_src")
    state = str(tmp_path / "cc_state")
    os.makedirs(src_dir, exist_ok=True)
    all_edges = []
    for rows in batches:
        all_edges += rows
        spark.createDataFrame(rows, ["src", "dst"]).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
        stream = spark.readStream.schema("src string, dst string").parquet(src_dir)
        q = streaming_connected_components(stream, state, n_shards=64).trigger(
            availableNow=True
        ).start()
        q.awaitTermination(180)

    # per-shard live batch_id from the directory layout
    comp_root = os.path.join(state, "comp")
    live = {}
    for sname in os.listdir(comp_root):
        m = re.fullmatch(r"shard=(\d+)", sname)
        if not m:
            continue
        bids = [
            int(b.split("=")[1])
            for b in os.listdir(os.path.join(comp_root, sname))
            if b.startswith("batch_id=")
        ]
        live[int(m.group(1))] = max(bids)
    # the iso* shards were written in batch 0 and never touched again
    assert min(live.values()) == 0, live
    # the m* shards were rewritten by the merge batches
    assert max(live.values()) == 2, live
    # GC: a rewritten shard holds exactly one live version
    for sname in os.listdir(comp_root):
        if sname.startswith("shard="):
            bids = [
                b for b in os.listdir(os.path.join(comp_root, sname))
                if b.startswith("batch_id=")
            ]
            assert len(bids) == 1, (sname, bids)

    got = {r.v: r.component for r in components_state(spark, state).collect()}
    nodes = sorted({x for e in all_edges for x in e})
    ndf = spark.createDataFrame([(n,) for n in nodes], ["key"])
    edf = spark.createDataFrame(all_edges, ["src", "dst"])
    want = {r.key: r.component for r in connected_components(ndf, edf).collect()}
    assert got == want
    assert got["m1"] == got["m3"] == "m1"


def test_streaming_triangle_count_incremental(spark, tmp_path):
    """Incremental triangle counting over 4 micro-batches: after every
    batch the running total equals batch triangle_count over the union
    so far — including triangles closed across batches, triangles with
    2-3 same-batch new edges, duplicate re-sent edges, and reversed
    duplicates."""
    import os

    from graphdb_neo4j_spark.operators.traversal import triangle_count
    from graphdb_neo4j_spark.streaming.graph_analytics import (
        streaming_triangle_count,
        triangle_count_state,
    )

    batches = [
        [("a", "b"), ("b", "c")],                       # path, 0 triangles
        [("c", "a")],                                   # closes abc across batches
        [("d", "e"), ("e", "f"), ("f", "d"), ("a", "b")],  # same-batch triangle + dup
        [("b", "a"), ("c", "d"), ("b", "d")],           # reversed dup; bcd closes
    ]
    src_dir = str(tmp_path / "tri_src")
    state = str(tmp_path / "tri_state")
    os.makedirs(src_dir, exist_ok=True)
    all_edges = []
    for rows in batches:
        all_edges += rows
        spark.createDataFrame(rows, ["src", "dst"]).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
        stream = spark.readStream.schema("src string, dst string").parquet(src_dir)
        q = streaming_triangle_count(stream, state).trigger(
            availableNow=True
        ).start()
        q.awaitTermination(180)
        st = triangle_count_state(spark, state)
        total = st.agg({"total": "max"}).head()[0]
        want = triangle_count(spark.createDataFrame(all_edges, ["src", "dst"]))
        assert total == want, (total, want, len(all_edges))
    # final sanity: abc + def + bcd
    assert want == 3


def test_streaming_cusum_equals_batch(spark, tmp_path):
    """Incremental CUSUM state after 3 micro-batches == the batch
    temporal.cusum over the concatenated series (max C+, max C-, alert
    count, final prefix sum), including a key that goes quiet after
    batch 1 (carried state) and a key born in batch 2."""
    import os

    from graphdb_neo4j_spark.operators.temporal import cusum
    from graphdb_neo4j_spark.streaming.drift import cusum_state, streaming_cusum

    DRIFT, H = 100, 150
    batches = [
        [("a", 0, 100), ("a", 1, 130), ("b", 2, 90), ("a", 3, 160)],
        [("a", 4, 180), ("a", 5, 170), ("c", 6, 50)],
        [("a", 7, 40), ("c", 8, 20), ("c", 9, 30)],
    ]
    src = str(tmp_path / "cusum_src")
    state = str(tmp_path / "cusum_state")
    os.makedirs(src, exist_ok=True)
    allrows = []
    for rows in batches:
        allrows += rows
        spark.createDataFrame(rows, "k string, ts_us long, v long").coalesce(
            1
        ).write.mode("append").parquet(src)
        stream = spark.readStream.schema("k string, ts_us long, v long").parquet(src)
        q = streaming_cusum(
            stream, state, value_col="v", drift=DRIFT, threshold=H,
            key_col="k", order_cols=["ts_us"],
        ).trigger(availableNow=True).start()
        q.awaitTermination(180)

    got = {r.key: r for r in cusum_state(spark, state).collect()}

    full = spark.createDataFrame(allrows, "k string, ts_us long, v long")
    c = cusum(full, "v", drift=DRIFT, by=["k"], order_cols=["ts_us"])
    want = {
        r.k: r
        for r in c.groupBy("k").agg(
            F.max("cusum_pos").alias("max_cp"),
            F.max("cusum_neg").alias("max_cn"),
            F.sum((F.col("cusum_pos") > H).cast("bigint")).alias("n_alerts"),
            F.sum(F.col("v") - DRIFT).alias("ps_last"),
        ).collect()
    }
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert (g.max_cp, g.max_cn, g.n_alerts, g.ps_last) == (
            w.max_cp, w.max_cn, w.n_alerts, w.ps_last
        ), k
