"""The benchmark's workloads.

Each workload generates its inputs and expected outputs from the seed
before Spark starts, then runs closed-loop ops: one client (this
process) issues the next op only after the previous one returned.

``setup`` is the program-side set-up that ``setup_s`` counts; ``op``
is the timed unit; ``check`` runs after the op's timing stops, compares
the op's outputs with the oracle and releases what the op holds.
"""

from __future__ import annotations

import os
import random
from collections import Counter

import corpus
import oracles

GRAPH_FILES = 30  # investigate: the one graph the session reads
UPSERT_BASE_FILES = 10  # upsert: the store's contents at setup
UPSERT_POOL_FILES = 60  # upsert: batches draw files from this pool
UPSERT_BATCH_FILES = 10


def _rows(df, *cols) -> Counter:
    """The table's rows as a multiset, so a duplicate row shows."""
    return Counter(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def _once(rows) -> Counter:
    """Expected rows, each exactly once."""
    return Counter(set(rows))


class Workload:
    name = ""
    round_ops = 1  # a run times whole rounds of this many ops

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.workdir = workdir
        self.spark = None
        self.tables: list = []  # what setup persisted

    def setup(self, spark, tr) -> None:
        self.spark = spark

    def teardown(self) -> None:
        for t in self.tables:
            t.unpersist()
        self.tables = []

    def check_setup(self) -> bool:
        return True

    def prepare_op(self, i: int) -> None:
        pass


# ---------------------------------------------------------------------------
# investigate: an analyst session over one persisted graph
# ---------------------------------------------------------------------------


class Investigate(Workload):
    """Setup bulk-ingests the corpus with the engine's loader
    (``build_graph``, the reference's whole job) and persists the graph
    tables it returns. Every op then runs the same mix on them: five
    seeded Cypher reads, then the components, BFS-depth and PageRank
    kernels over SPAWNS.
    """

    name = "investigate"

    def __init__(self, seed, workdir):
        super().__init__(seed, workdir)
        names, docs = corpus.make_batch(seed, 0, GRAPH_FILES)
        self.glob = corpus.write_batch(os.path.join(workdir, "graph"), names, docs)
        nodes, edges, props = oracles.simulate_full(docs, names)
        self.nodes, self.edges = nodes, edges
        self.graph_rows = oracles.graph_rows(nodes, edges)
        self.images = {k: v["image"] for k, v in props["process"].items()}
        self.spawn_adj = oracles.adjacency(edges["SPAWNS"])
        self.created = oracles.adjacency(edges.get("CREATED_FILE", ()))
        self.connected_in = oracles.adjacency((d, s) for s, d in edges.get("CONNECTED_TO", ()))
        self.spawn_rev = oracles.adjacency((d, s) for s, d in edges["SPAWNS"])
        self.components = oracles.g40_component_sizes(nodes, edges, topk=None)
        self.depths = oracles.g42_bfs_depths(edges)
        self.ranks = oracles.pagerank(edges["SPAWNS"])
        # anchors: processes with children, the all-zero hub excluded
        self.parents = sorted(k for k in self.spawn_adj if k != corpus.ZERO_GUID)
        self.lookups = sorted(self.created)
        self.ips = sorted(self.connected_in)

    def setup(self, spark, tr):
        from pyspark.sql import functions as F

        from graphdb_neo4j_spark.operators.graph import GraphQuery
        from graphdb_neo4j_spark.operators.ingest import build_graph

        super().setup(spark, tr)
        with tr.span("ingest.build"):
            g = build_graph(spark, self.glob)
        with tr.span("ingest.materialize"):
            nodes, edges, process = g.nodes(), g.edges, g.process
            spawns = edges.filter(F.col("rel") == "SPAWNS").select("src", "dst")
            # process and edges first: the node union and SPAWNS then
            # read their cached rows
            self.tables = [t.persist() for t in (process, edges, nodes, spawns)]
            for t in self.tables:
                t.count()
        self.nodes_df, self.edges_df = nodes, edges
        self.process, self.spawns = process, spawns
        self.gq = GraphQuery(nodes=nodes, edges=edges)
        self.props = {"Process": process}

    def check_setup(self) -> bool:
        """The ingested graph has ``oracle_sim``'s node keys and edge
        identities, each once, and its Process images."""
        want_nodes, want_edges = self.graph_rows
        return (
            _rows(self.nodes_df, "label", "key") == _once(want_nodes)
            and _rows(self.edges_df, "rel", "src", "dst") == _once(want_edges)
            and _rows(self.process, "key", "image") == _once(self.images.items())
        )

    def _params(self, i):
        rng = random.Random(f"{self.seed}:investigate:{i}")
        src = rng.choice(self.parents)
        return {
            "lookup": rng.choice(self.lookups),
            "ip": rng.choice(self.ips),
            "root": rng.choice(self.parents),
            "opt": rng.choice(self.parents),
            "sp_src": src,
            "sp_dst": rng.choice(sorted(oracles.hops_from(self.spawn_adj, src))),
        }

    def op(self, i, tr):
        from pyspark.sql import functions as F

        from graphdb_neo4j_spark.operators.cypher import cypher
        from graphdb_neo4j_spark.operators.traversal import (
            bfs,
            connected_components_twophase,
            pagerank,
        )

        p = self._params(i)
        queries = {
            "lookup": (
                "MATCH (p:Process)-[:CREATED_FILE]->(f:File) "
                f"WHERE p = '{p['lookup']}' RETURN f, p.image AS image"
            ),
            "motif": (
                "MATCH (a:Process)-[:SPAWNS]->(b:Process)-[:CONNECTED_TO]->(ip:Ip) "
                f"WHERE ip = '{p['ip']}' RETURN a, b"
            ),
            "varlen": (
                "MATCH (a:Process)-[:SPAWNS*1..3]->(d:Process) "
                f"WHERE a = '{p['root']}' RETURN DISTINCT d"
            ),
            "optional": (
                f"MATCH (a:Process)-[:SPAWNS]->(b:Process) WHERE a = '{p['opt']}' "
                "OPTIONAL MATCH (b)-[:CREATED_FILE]->(f:File) RETURN b, f"
            ),
            "shortest": (
                f"MATCH p = shortestPath((a {{key: '{p['sp_src']}'}})-[:SPAWNS*]->"
                f"(b {{key: '{p['sp_dst']}'}})) RETURN length(p) AS hops"
            ),
        }
        out = {"params": p}
        for name, q in queries.items():
            with tr.span(f"cypher.compile.{name}"):
                df = cypher(self.gq, q, props=self.props)
            with tr.span(f"cypher.run.{name}"):
                out[name] = df.collect()
        with tr.span("traversal.components"):
            comp = connected_components_twophase(self.process.select("key"), self.spawns)
            out["components"] = (
                comp.groupBy("component").agg(F.count("*").alias("size")).collect()
            )
        with tr.span("traversal.bfs"):
            roots = self.spawns.select(F.col("src").alias("key")).distinct().join(
                self.spawns.select(F.col("dst").alias("key")).distinct(), "key", "left_anti"
            )
            out["bfs"] = (
                bfs(self.spawns, roots).groupBy("dist").agg(F.count("*").alias("n")).collect()
            )
        with tr.span("traversal.pagerank"):
            out["pagerank"] = pagerank(
                self.spawns, iterations=oracles.PAGERANK_ITERATIONS,
                damping=oracles.PAGERANK_DAMPING,
            ).collect()
        return out

    def check(self, i, out) -> bool:
        p = out["params"]
        # the graph's edges are distinct, so every read returns each
        # expected row exactly once
        checks = {}
        checks["lookup"] = Counter((r.f, r.image) for r in out["lookup"]) == _once(
            (f, self.images[p["lookup"]]) for f in self.created[p["lookup"]]
        )
        want_motif = _once(
            (a, b)
            for b in self.connected_in[p["ip"]]
            for a in self.spawn_rev.get(b, ())
        )
        checks["motif"] = Counter((r.a, r.b) for r in out["motif"]) == want_motif
        checks["varlen"] = Counter(r.d for r in out["varlen"]) == _once(
            oracles.hops_from(self.spawn_adj, p["root"], max_hops=3)
        )
        want_opt = set()
        for b in self.spawn_adj[p["opt"]]:
            files = self.created.get(b)
            want_opt |= {(b, f) for f in files} if files else {(b, None)}
        checks["optional"] = Counter((r.b, r.f) for r in out["optional"]) == _once(want_opt)
        checks["shortest"] = [r.hops for r in out["shortest"]] == [
            oracles.hops_from(self.spawn_adj, p["sp_src"])[p["sp_dst"]]
        ]
        got_sizes = sorted(
            ((r.component, r.size) for r in out["components"]), key=lambda kv: (-kv[1], kv[0])
        )
        checks["components"] = got_sizes == self.components
        checks["bfs"] = sorted((r.dist, r.n) for r in out["bfs"]) == self.depths
        checks["pagerank"] = len(out["pagerank"]) == len(self.ranks) and oracles.ranks_agree(
            {r.key: r.rank for r in out["pagerank"]}, self.ranks
        )
        self.last_checks = checks
        return all(checks.values())


# ---------------------------------------------------------------------------
# upsert: the reference's MERGE templates through GraphWriter
# ---------------------------------------------------------------------------

UPSERT_TEMPLATES = {
    "trace": "MERGE (t:Trace {traceID: $traceID})",
    "process": """
        MERGE (p:Process {key: $key})
          ON CREATE SET p.image = $image, p.CommandLine = $CommandLine
          ON MATCH SET
            p.ProcessGuid       = coalesce($ProcessGuid, p.ProcessGuid),
            p.ParentProcessGuid = coalesce($ParentProcessGuid, p.ParentProcessGuid),
            p.image             = coalesce($image, p.image),
            p.CommandLine       = coalesce($CommandLine, p.CommandLine)
        MATCH (t:Trace {traceID: $traceID})
        MERGE (t)-[hp:HAS_PROCESS]->(p)
    """,
    "spawns": """
        MATCH (parent:Process {key: $pk})
        MATCH (child:Process {key: $ck})
        MERGE (parent)-[s:SPAWNS]->(child)
    """,
}
PROCESS_COLS = ("key", "ProcessGuid", "ParentProcessGuid", "image", "CommandLine",
                "traceID", "f", "st", "si", "wseq")
PROCESS_SCHEMA = (
    "key string, ProcessGuid string, ParentProcessGuid string, image string, "
    "CommandLine string, traceID string, f string, st long, si int, wseq int"
)


def merge_params(docs: list[dict], names: list[str]) -> dict:
    """The reference loader's parameter stream for one batch: Trace
    ids, Process writes (main span, parent stub, 8/10/25 target stub)
    and SPAWNS pairs, derived by the oracle's span derivation."""
    rows = oracles.derive_spans(docs, names)
    traces = sorted({d.get("traceID") or f"FILE::{n}" for d, n in zip(docs, names)})
    writes, spawns = [], []
    for r in rows:
        order = {"traceID": r["trace_id"], "f": r["file"], "st": r["start_time"],
                 "si": r["span_idx"]}
        if r["pkey"]:
            writes.append({"key": r["pkey"], "ProcessGuid": r["guid"],
                           "ParentProcessGuid": r["pguid"], "image": r["image"],
                           "CommandLine": r["cmd"], "wseq": 0, **order})
            if r["parent_key"]:
                writes.append({"key": r["parent_key"], "ProcessGuid": r["pguid"],
                               "ParentProcessGuid": None, "image": None,
                               "CommandLine": None, "wseq": 1, **order})
                spawns.append((r["parent_key"], r["pkey"]))
        if r["ev"] in ("8", "10", "25") and r["pkey"] and r["dst_key"]:
            writes.append({"key": r["dst_key"], "ProcessGuid": r["dst_guid"],
                           "ParentProcessGuid": None, "image": None,
                           "CommandLine": None, "wseq": 2, **order})
    return {"traces": traces, "writes": writes, "spawns": spawns}


class Upsert(Workload):
    """Setup opens a ``GraphStore`` whose Trace, Process, HAS_PROCESS
    and SPAWNS tables hold a base batch of trace files (the MERGE fold
    of its parameter stream, as a saved store would). Each op then
    MERGEs one batch (a seeded draw of files from a pool that contains
    the base, so both ON CREATE and ON MATCH fire), compacts the store,
    and runs one Cypher read on it. Bulk ingest is measured by
    ``investigate``."""

    name = "upsert"
    # the first op after set-up is JIT-cold and its CPU varies with how
    # far the JIT gets; two warmer ops after it halve that share of a
    # round (see README)
    round_ops = 3

    def __init__(self, seed, workdir):
        super().__init__(seed, workdir)
        self.pool = [corpus.make_trace(seed, i) for i in range(UPSERT_POOL_FILES)]
        base = sorted(self.pool[:UPSERT_BASE_FILES])
        self.base = merge_params([d for _, d in base], [n for n, _ in base])
        self.fold = oracles.MergeFold()
        self._fold_batch(self.base)
        self._dfs: dict[int, tuple] = {}
        self._batches: dict[int, dict] = {}

    def _batch(self, i):
        rng = random.Random(f"{self.seed}:upsert:{i}")
        pairs = sorted(rng.sample(self.pool, UPSERT_BATCH_FILES))
        names = [n for n, _ in pairs]
        docs = [d for _, d in pairs]
        b = merge_params(docs, names)
        parents = sorted({pk for pk, _ in b["spawns"] if pk != corpus.ZERO_GUID})
        b["anchor"] = rng.choice(parents)
        return b

    def setup(self, spark, tr):
        from graphdb_neo4j_spark.operators.cypher_write import GraphStore, GraphWriter

        super().setup(spark, tr)
        f = self.fold
        with tr.span("store.load"):
            nodes = {
                "Trace": spark.createDataFrame(
                    [(t,) for t in sorted(f.traces)], "traceID string"
                ),
                "Process": spark.createDataFrame(
                    [(k, *(v[p] for p in f.PROPS)) for k, v in sorted(f.process.items())],
                    "key string, " + ", ".join(f"{p} string" for p in f.PROPS),
                ),
            }
            edges = {
                rel: spark.createDataFrame(sorted(pairs), "src string, dst string")
                for rel, pairs in (("HAS_PROCESS", f.has_process), ("SPAWNS", f.spawns))
            }
            self.tables = [t.persist() for t in (*nodes.values(), *edges.values())]
            for t in self.tables:
                t.count()
        store = GraphStore(
            spark, nodes=nodes, node_keys={"Trace": ["traceID"], "Process": ["key"]},
            edges=edges,
        )
        self.writer = GraphWriter(spark, store)

    def check_setup(self) -> bool:
        return self._store_matches()

    def prepare_op(self, i):
        b = self._batch(i)
        spark = self.spark
        self._batches[i] = b
        self._dfs[i] = (
            spark.createDataFrame([(t,) for t in b["traces"]], "traceID string"),
            spark.createDataFrame(
                [tuple(w[c] for c in PROCESS_COLS) for w in b["writes"]], PROCESS_SCHEMA
            ),
            spark.createDataFrame(b["spawns"], "pk string, ck string"),
        )

    def op(self, i, tr):
        traces, writes, spawns = self._dfs.pop(i)
        anchor = self._batches[i]["anchor"]
        w = self.writer
        with tr.span("cypher_write.execute"):
            w.execute(UPSERT_TEMPLATES["trace"], traces)
            w.execute(UPSERT_TEMPLATES["process"], writes, order=["f", "st", "si", "wseq"])
            w.execute(UPSERT_TEMPLATES["spawns"], spawns)
        with tr.span("cypher_write.compact"):
            w.store.compact()
        with tr.span("cypher_write.read"):
            rows = w.store.cypher(
                "MATCH (a:Process)-[:SPAWNS]->(b:Process) "
                f"WHERE a = '{anchor}' RETURN b, b.image AS image"
            ).collect()
        return rows

    def _fold_batch(self, b) -> None:
        self.fold.merge_traces(b["traces"])
        self.fold.merge_processes(b["writes"])
        self.fold.merge_spawns(b["spawns"])

    def _store_matches(self) -> bool:
        """Every table of the store equals the fold, each row once: a
        MERGE that duplicates a node or an edge fails the check."""
        f, st = self.fold, self.writer.store
        return (
            _rows(st.nodes["Trace"], "traceID") == _once((t,) for t in f.traces)
            and _rows(st.nodes["Process"], "key", *f.PROPS) == _once(
                (k, *(v[p] for p in f.PROPS)) for k, v in f.process.items()
            )
            and _rows(st.edges["HAS_PROCESS"], "src", "dst") == _once(f.has_process)
            and _rows(st.edges["SPAWNS"], "src", "dst") == _once(f.spawns)
        )

    def check(self, i, rows) -> bool:
        b = self._batches.pop(i)
        self._fold_batch(b)
        return Counter((r.b, r.image) for r in rows) == _once(
            self.fold.children(b["anchor"])
        ) and self._store_matches()


WORKLOADS = {w.name: w for w in (Investigate, Upsert)}
