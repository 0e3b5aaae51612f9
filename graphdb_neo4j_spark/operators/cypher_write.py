"""Cypher WRITE clauses — MERGE / CREATE / SET / DELETE templates
batch-applied as DataFrame upserts.

The reference's entire workload is parameterized Cypher write templates
executed once per span over Bolt (`/root/reference/events.py:74-246`,
dispatched at `events.py:265-519`): ``MERGE (n:Label {key:$k})``
with ``ON CREATE SET`` / ``ON MATCH SET`` asymmetry, bare ``SET``
last-writer-wins, ``coalesce($p, n.prop)`` keep-old-if-null, and
``MATCH .. MATCH .. MERGE`` edge binds.  `operators/ingest.py` mirrors
those 22 concrete templates by hand; THIS module closes the general
surface: it accepts the Cypher write TEXT itself and compiles it to the
same batched plan shape, so a migrating user can run their own write
templates without waiting for a hand-built handler.

Execution model (Spark-first, the whole point):

* One ``execute(template, params, order=[...])`` call applies the
  template to EVERY row of ``params`` at once — the reference's ~60k
  sequential Bolt round-trips become one plan per touched label/rel.
* Write-order semantics are preserved exactly: callers name the columns
  that order the parameter stream (the reference's
  ``(file, startTime, span_idx)``); statement position within the
  template supplies the final tiebreak, and all conflict resolution
  runs in ONE window per label (partitioned by merge key, ordered by
  that word) — the same shuffle shape `ingest.py` uses (process-key
  window / edge-identity window / simple-node distinct).
* MERGE existence is a distinct over merge keys; ``ON CREATE`` fires
  only on the first write of a key that was absent from the store,
  ``ON MATCH`` on every other write; bare ``SET`` on all writes.
  ``prop = coalesce($p, v.prop)`` compiles to last-NON-NULL resolution
  (keep-old, events.py:149/173); any other expression overwrites
  (last-writer-wins INCLUDING null, the bare-SET Bolt behavior).
* ``MATCH`` clauses gate: a parameter row whose MATCH finds no node in
  the pre-execute store contributes nothing (the reference's BIND_TO
  no-op, events.py:155-160).  Visibility is snapshot-at-execute; the
  intra-stream order dependency of interleaved templates is the
  dedicated ingest pipeline's job (`operators/ingest.py:451`).
* ``CREATE`` on this keyed store behaves as MERGE + ON CREATE SET: the
  store enforces the reference's 10 uniqueness constraints
  (events.py:32-45), so a constraint-violating CREATE no-ops instead
  of raising (documented divergence from Neo4j, which errors).
* ``REMOVE n.prop`` — property removal as overwrite-to-NULL in the
  tabular property model (label removal stays rejected: a label IS
  the node table).
* ``DELETE`` / ``DETACH DELETE`` compile to anti-joins; DETACH also
  removes incident edges in every relationship table.

Parsing: a template is split into clauses, and its node and edge
patterns and ``{k: v}`` maps are parsed, by the read grammar of
`operators/cypher.py` (one quote-aware scanner, ``_NODE_RE`` /
``_EDGE_RE``), so both sides accept the same literals.  The rules that
hold only for writes are explicit checks: a node needs a variable and
a label, MERGE / CREATE a key map, an edge joins two bound variables in
one direction, and no edge is variable-length.

100 TB shape: per label ONE union of narrow write projections + ONE
window (shuffle on merge key); per rel the same on (src, dst).  Nothing
row-at-a-time, nothing driver-side; store tables are plain DataFrames a
caller can persist, bucket, or save partitioned-by-label exactly like
`PropertyGraph.save`.  Lineage across many ``execute`` calls grows like
any iterative algorithm — ``GraphStore.compact()`` (a freeze) or
``GraphStore.save`` (parquet stage) truncates it, mirroring the
iterative-traversal discipline in `operators/traversal.py`.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graphdb_neo4j_spark.operators.cypher import (
    _EDGE_RE,
    _NODE_RE,
    _items,
    _parse_map,
    _split_clauses,
)
from graphdb_neo4j_spark.operators.graph import _unq

__all__ = ["GraphStore", "GraphWriter", "CypherWriteError"]


class CypherWriteError(ValueError):
    pass


# --------------------------------------------------------------------------
# parsing
# --------------------------------------------------------------------------

_SET_ITEM = re.compile(
    r"^(?P<var>[A-Za-z_]\w*)\.(?P<prop>`[^`]+`|[A-Za-z_]\w*)\s*=\s*(?P<expr>.+)$",
    re.S,
)
_PARAM = re.compile(r"\$([A-Za-z_]\w*)")

_WRITE_CLAUSES = (
    "ON CREATE SET",
    "ON MATCH SET",
    "OPTIONAL MATCH",  # rejected later, but must split as its own clause
    "DETACH DELETE",
    "MATCH",
    "MERGE",
    "CREATE",
    "DELETE",
    "REMOVE",
    "SET",
)


@dataclass
class _SetItem:
    var: str
    prop: str
    value_sql: str  # params-side SQL for the new value
    keep_old: bool  # coalesce($p, v.prop) → last-non-null


@dataclass
class _NodeStmt:
    kind: str  # "match" | "merge"
    var: str
    label: str
    key_props: dict[str, str]  # prop → value expr text
    seq: int = 0
    on_create: list[_SetItem] = field(default_factory=list)
    on_match: list[_SetItem] = field(default_factory=list)
    bare_set: list[_SetItem] = field(default_factory=list)


@dataclass
class _EdgeStmt:
    kind: str  # "merge"
    var: str | None
    rel: str
    src_var: str
    dst_var: str
    seq: int = 0
    on_create: list[_SetItem] = field(default_factory=list)
    on_match: list[_SetItem] = field(default_factory=list)
    bare_set: list[_SetItem] = field(default_factory=list)


@dataclass
class _DeleteStmt:
    vars: list[str]
    detach: bool
    # seq of the last pattern clause BEFORE this DELETE: in-order
    # clause gating applies only gates at seq <= this (a MATCH written
    # after the DELETE must not suppress it)
    seq: int = 0


@dataclass
class _Template:
    nodes: list[_NodeStmt]
    edges: list[_EdgeStmt]
    deletes: list[_DeleteStmt]
    params: set[str]


def _subst_params(expr: str) -> str:
    return _PARAM.sub(lambda m: f"`{m.group(1)}`", expr)


def _compile_value(expr: str, var: str, prop: str) -> tuple[str, bool]:
    """Value expression → (params-side SQL, keep_old).

    ``coalesce($p, v.prop)`` (any capitalization, whitespace) is the
    keep-old-if-null idiom (events.py:149, 153, 173) → last-non-null
    resolution with inner value ``$p``.  Any other expression must not
    reference ``v.*`` and overwrites (bare-SET semantics).
    """
    m = re.match(
        r"^coalesce\s*\(\s*(?P<inner>.+?)\s*,\s*"
        + re.escape(var) + r"\s*\.\s*" + re.escape(prop) + r"\s*\)$",
        expr.strip(),
        re.I,
    )
    if m:
        return _subst_params(m.group("inner")), True
    if re.search(r"\b" + re.escape(var) + r"\s*\.", expr):
        raise CypherWriteError(
            f"self-referencing SET expression not supported: {expr!r} "
            f"(only the keep-old form coalesce($p, {var}.{prop}))"
        )
    return _subst_params(expr), False


def parse_write_template(q: str) -> _Template:
    """Parse a Cypher write template into node/edge/delete statements.
    Every parse error is a :class:`CypherWriteError`, those of the
    grammar shared with the read side included."""
    try:
        return _parse_template(q)
    except CypherWriteError:
        raise
    except ValueError as e:
        raise CypherWriteError(str(e)) from e


def _parse_template(q: str) -> _Template:
    q = re.sub(r"//[^\n]*", "", q).strip().rstrip(";")
    clauses = [(kw, body.rstrip(",")) for kw, body in _split_clauses(q, _WRITE_CLAUSES)]
    nodes: list[_NodeStmt] = []
    edges: list[_EdgeStmt] = []
    deletes: list[_DeleteStmt] = []
    bound: dict[str, _NodeStmt] = {}
    last_entity: _NodeStmt | _EdgeStmt | None = None
    seq = 0
    params: set[str] = set(_PARAM.findall(q))

    def add_set(items: list[_SetItem], body: str) -> None:
        for item in _items(body):
            m = _SET_ITEM.match(item)
            if not m:
                raise CypherWriteError(f"unsupported SET item: {item!r}")
            var, prop = m.group("var"), _unq(m.group("prop"))
            sql, keep = _compile_value(m.group("expr"), var, m.group("prop"))
            items.append(_SetItem(var, prop, sql, keep))

    for kw, body in clauses:
        if kw == "OPTIONAL MATCH":
            raise CypherWriteError("OPTIONAL MATCH is read-side; use cypher()")
        if kw in ("MATCH", "MERGE", "CREATE"):
            a = _NODE_RE.match(body)
            em = a and _EDGE_RE.match(body, a.end())
            if em:
                b = _NODE_RE.fullmatch(body, em.end())
                if not b or em["eprops"] or any(n["label"] or n["props"] for n in (a, b)):
                    raise CypherWriteError(
                        f"unsupported pattern: {body!r} (an edge joins two bound "
                        "variables: (a)-[r:REL]->(b))"
                    )
                if kw == "MATCH":
                    raise CypherWriteError(
                        "MATCH on edge patterns is not supported in write "
                        "templates (bind endpoints with node MATCH/MERGE)"
                    )
                if em["vspec"]:
                    raise CypherWriteError(f"variable-length edge not supported: {body!r}")
                if bool(em["back"]) == bool(em["fwd"]):
                    raise CypherWriteError(f"an edge needs one direction: {body!r}")
                src, dst = (b["var"], a["var"]) if em["back"] else (a["var"], b["var"])
                for v in (src, dst):
                    if v not in bound:
                        raise CypherWriteError(
                            f"edge endpoint {v!r} is not bound by an earlier "
                            "MATCH/MERGE node clause"
                        )
                est = _EdgeStmt("merge", em["ev"], _unq(em["rel"]), src, dst, seq=seq)
                edges.append(est)
                last_entity = est
            else:
                nm = _NODE_RE.fullmatch(body)
                if not nm or not nm["label"]:
                    raise CypherWriteError(f"unsupported pattern: {body!r}")
                var = nm["var"]
                if var is None:
                    raise CypherWriteError(f"node pattern needs a variable: {body!r}")
                props = _parse_map(nm["props"])
                if kw != "MATCH" and not props:
                    raise CypherWriteError(
                        f"{kw} node pattern needs a merge-key property map: {body!r}"
                    )
                key_props = {k: _subst_params(v) for k, v in props.items()}
                nst = _NodeStmt("match" if kw == "MATCH" else "merge",
                                var, _unq(nm["label"]), key_props, seq=seq)
                nodes.append(nst)
                bound[var] = nst
                last_entity = nst
            seq += 1
        elif kw in ("ON CREATE SET", "ON MATCH SET", "SET"):
            if last_entity is None:
                raise CypherWriteError("SET before any MATCH/MERGE")
            items: list[_SetItem] = []
            add_set(items, body)
            for it in items:
                target: _NodeStmt | _EdgeStmt | None = bound.get(it.var)
                if target is None:
                    target = next((e for e in edges if e.var == it.var), None)
                if target is None:
                    raise CypherWriteError(f"SET on unbound variable {it.var!r}")
                if isinstance(target, _NodeStmt) and target.kind == "match":
                    # SET on a MATCHed node mutates existing rows only —
                    # modeled as a merge whose ON CREATE can never fire
                    # (the MATCH gate already dropped rows with no node)
                    target.kind = "merge"
                    target.gated_update = True  # type: ignore[attr-defined]
                {
                    "ON CREATE SET": target.on_create,
                    "ON MATCH SET": target.on_match,
                    "SET": target.bare_set,
                }[kw].append(it)
        elif kw == "REMOVE":
            # REMOVE n.prop — property removal; in the tabular property
            # model that is an overwrite-to-NULL (last-writer-wins, so
            # a later SET can resurrect it).  Label removal is table
            # identity here and stays rejected.
            if last_entity is None:
                raise CypherWriteError("REMOVE before any MATCH/MERGE")
            for item in _items(body):
                m = re.match(r"^(?P<var>\w+)\s*\.\s*(?P<prop>\w+|`[^`]+`)$", item)
                if not m:
                    raise CypherWriteError(
                        f"unsupported REMOVE item: {item!r} (only "
                        "var.prop — a label IS the node table here)"
                    )
                it = _SetItem(m["var"], _unq(m["prop"]), "NULL", False)
                target = bound.get(it.var) or next(
                    (e for e in edges if e.var == it.var), None
                )
                if target is None:
                    raise CypherWriteError(
                        f"REMOVE on unbound variable {it.var!r}"
                    )
                if isinstance(target, _NodeStmt) and target.kind == "match":
                    target.kind = "merge"
                    target.gated_update = True  # type: ignore[attr-defined]
                target.bare_set.append(it)
        elif kw in ("DELETE", "DETACH DELETE"):
            vars_ = _items(body)
            for v in vars_:
                if v not in bound and not any(e.var == v for e in edges):
                    raise CypherWriteError(f"DELETE of unbound variable {v!r}")
            deletes.append(
                _DeleteStmt(vars_, kw.startswith("DETACH"), seq=seq - 1)
            )
        else:  # pragma: no cover
            raise CypherWriteError(f"unsupported clause {kw}")

    for st in list(nodes) + list(edges):
        both = ({i.prop for i in st.on_create} | {i.prop for i in st.on_match}) & {
            i.prop for i in st.bare_set
        }
        if both:
            raise CypherWriteError(
                f"property {both} appears in both ON CREATE/ON MATCH and bare "
                "SET — pick one per property"
            )
    return _Template(nodes, edges, deletes, params)


# --------------------------------------------------------------------------
# store
# --------------------------------------------------------------------------


@dataclass
class GraphStore:
    """Generic keyed property-graph tables.

    ``nodes[label]`` — one DataFrame per label: merge-key columns (the
    Cypher property names, e.g. ``key`` / ``path`` / ``name``) plus one
    column per SET property.  ``node_keys[label]`` names the merge-key
    columns (composite allowed; single required for edge endpoints).
    ``edges[rel]`` — ``src``/``dst`` (endpoint key values) plus prop
    columns.
    """

    spark: SparkSession
    nodes: dict[str, DataFrame] = field(default_factory=dict)
    node_keys: dict[str, list[str]] = field(default_factory=dict)
    edges: dict[str, DataFrame] = field(default_factory=dict)
    # (kind, name) -> the table the last compact froze and its handle
    _frozen: dict = field(default_factory=dict, init=False, repr=False)

    def nodes_df(self) -> DataFrame:
        """Unified ``(label, key)`` view (composite keys are
        concatenated with ``\\x1f``)."""
        parts = []
        for label, df in sorted(self.nodes.items()):
            keys = self.node_keys[label]
            key = (
                F.col(keys[0]).cast("string")
                if len(keys) == 1
                else F.concat_ws("\x1f", *[F.col(k).cast("string") for k in keys])
            )
            parts.append(df.select(F.lit(label).alias("label"), key.alias("key")))
        if not parts:
            return self.spark.createDataFrame([], "label string, key string")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def edges_df(self) -> DataFrame:
        """Unified ``(rel, src, dst)`` view (prop columns dropped — the
        per-rel tables keep them)."""
        parts = [
            df.select(F.lit(rel).alias("rel"),
                      F.col("src").cast("string").alias("src"),
                      F.col("dst").cast("string").alias("dst"))
            for rel, df in sorted(self.edges.items())
        ]
        if not parts:
            return self.spark.createDataFrame([], "rel string, src string, dst string")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def to_graph_query(self):
        """Bind this store to the READ-side combinators: a `GraphQuery`
        over the unified (label, key) / (rel, src, dst, props) views.
        Keys are cast to string in both views, so motif joins stay
        type-consistent across labels."""
        from functools import reduce as _reduce

        from graphdb_neo4j_spark.operators.graph import GraphQuery

        eparts = []
        for rel, df in sorted(self.edges.items()):
            eparts.append(
                df.select(
                    F.lit(rel).alias("rel"),
                    F.col("src").cast("string").alias("src"),
                    F.col("dst").cast("string").alias("dst"),
                    *[c for c in df.columns if c not in ("src", "dst")],
                )
            )
        if eparts:
            edges = _reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True), eparts
            )
        else:
            edges = self.spark.createDataFrame(
                [], "rel string, src string, dst string"
            )
        return GraphQuery(nodes=self.nodes_df(), edges=edges)

    def cypher(self, query: str) -> DataFrame:
        """Full round-trip: run a READ Cypher query (operators/cypher.py
        subset) against this writer-built store.  Single-key labels'
        tables are passed as the property tables, so ``v.prop``
        resolves to whatever MERGE/SET wrote."""
        props = {
            lab: df.select(
                F.col(self.node_keys[lab][0]).cast("string").alias("key"),
                *[c for c in df.columns if c != self.node_keys[lab][0]],
            )
            for lab, df in self.nodes.items()
            if len(self.node_keys[lab]) == 1
        }
        return self.to_graph_query().cypher(query, props=props)

    def compact(self) -> None:
        """Freeze every table through :func:`order.checkpoint_eager` —
        truncates the lineage that repeated ``execute`` calls grow (call
        between template batches on long pipelines; on a real cluster
        prefer ``save`` to a parquet stage, or set
        ``SPARK_GRAFT_RELIABLE_FREEZE=1``, for fault tolerance).

        A table still frozen by the last compact (no ``execute`` replaced
        it since) stays as it is.  Once the new tables are frozen, the
        blocks of the frozen tables they replace are released, so the
        store holds one frozen copy of each table however many batches
        it takes; a frame taken from the store before then is unusable
        afterwards (:class:`order.CheckpointHandle`'s contract)."""
        from graphdb_neo4j_spark.operators.order import checkpoint_eager

        replaced = []
        for kind, tables in (("node", self.nodes), ("edge", self.edges)):
            for name, df in tables.items():
                old = self._frozen.get((kind, name))
                if old is not None and old[0] is df:
                    continue
                tables[name], handle = checkpoint_eager(df)
                self._frozen[kind, name] = (tables[name], handle)
                if old is not None:
                    replaced.append(old[1])
        for handle in replaced:
            handle.release()

    def save(self, path: str) -> None:
        """Parquet layout mirroring `PropertyGraph.save`: per-label node
        dirs, per-rel edge dirs — label/rel predicates become directory
        pruning."""
        for label, df in self.nodes.items():
            df.write.mode("overwrite").parquet(f"{path}/nodes/label={label}")
        for rel, df in self.edges.items():
            df.write.mode("overwrite").parquet(f"{path}/edges/rel={rel}")


# --------------------------------------------------------------------------
# writer
# --------------------------------------------------------------------------

_GEN_SEED = 0  # existing store rows
_GEN_WRITE = 1  # this batch's writes


@dataclass
class _WritePart:
    """One statement's contribution: key value exprs + per-branch SET
    value SQL by prop."""

    key_exprs: dict[str, str]  # key col → value SQL over params
    seq: int
    create_vals: dict[str, str]
    match_vals: dict[str, str]
    set_vals: dict[str, str]


class GraphWriter:
    """Batch applicator for Cypher write templates (see module doc).

    >>> w = GraphWriter(spark)
    >>> w.execute('''
    ...   MERGE (p:Process {key: $key})
    ...     ON CREATE SET p.image = $image
    ...     ON MATCH SET p.image = coalesce($image, p.image)
    ...   MERGE (t:Trace {traceID: $trace})
    ...   MERGE (t)-[r:HAS_PROCESS]->(p) SET r.event_id = $event_id
    ... ''', params, order=["file", "start_time", "span_idx"])
    """

    def __init__(self, spark: SparkSession, store: GraphStore | None = None):
        self.spark = spark
        self.store = store if store is not None else GraphStore(spark)

    # -- public -------------------------------------------------------------

    def execute(
        self,
        template: str,
        params: DataFrame | None = None,
        order: list[str] | None = None,
    ) -> GraphStore:
        t = parse_write_template(template)
        if params is None:
            if t.params:
                raise CypherWriteError(
                    f"template references parameters {sorted(t.params)} but "
                    "no params DataFrame was given"
                )
            params = self.spark.range(1).select(F.lit(1).alias("__one__"))
        missing = t.params - set(params.columns)
        if missing:
            raise CypherWriteError(f"params missing columns: {sorted(missing)}")
        if order is None:
            order = sorted(t.params & set(params.columns)) or list(params.columns)
        bad = [c for c in order if c not in params.columns]
        if bad:
            raise CypherWriteError(f"order columns not in params: {bad}")

        # MATCH gating against the pre-execute snapshot (events.py:155-160).
        # Cypher executes clauses IN ORDER: a failing MATCH suppresses only
        # the clauses after it, so each statement sees params filtered by
        # every gate clause at seq <= its own (a gated_update — MATCH with
        # a SET — gates its own write via the <= ).
        snapshot_nodes = dict(self.store.nodes)
        base = params.withColumn(
            "__word0__", F.struct(*[F.col(c) for c in order])
        )
        gates = sorted(
            (
                st
                for st in t.nodes
                if st.kind == "match" or getattr(st, "gated_update", False)
            ),
            key=lambda st: st.seq,
        )
        frames: list[DataFrame] = [base]
        for g in gates:
            frames.append(self._gate(frames[-1], g, snapshot_nodes))

        def gated_for(seq: int) -> DataFrame:
            n = sum(1 for g in gates if g.seq <= seq)
            return frames[n]

        for label in sorted({n.label for n in t.nodes if n.kind == "merge"}):
            self._apply_nodes(
                label, [n for n in t.nodes if n.label == label and n.kind == "merge"],
                gated_for,
            )
        for rel in sorted({e.rel for e in t.edges}):
            self._apply_edges(rel, [e for e in t.edges if e.rel == rel], t, gated_for)
        for d in t.deletes:
            self._apply_delete(d, t, gated_for(d.seq))
        return self.store

    # -- MATCH gate ---------------------------------------------------------

    def _gate(
        self, params: DataFrame, st: _NodeStmt, snapshot: dict[str, DataFrame]
    ) -> DataFrame:
        existing = snapshot.get(st.label)
        if existing is None:
            return params.limit(0)
        keys = self.store.node_keys[st.label]
        if sorted(st.key_props) != sorted(keys):
            raise CypherWriteError(
                f"MATCH on :{st.label} must use its merge key {keys}, "
                f"got {sorted(st.key_props)}"
            )
        probe = params.select(
            "*", *[F.expr(v).alias(f"__mk_{k}__") for k, v in st.key_props.items()]
        )
        ex = existing.select(*keys).dropDuplicates()
        cond = None
        for k in keys:
            c = probe[f"__mk_{k}__"] == ex[k]
            cond = c if cond is None else (cond & c)
        out = probe.join(ex, cond, "left_semi")
        return out.drop(*[f"__mk_{k}__" for k in st.key_props])

    # -- shared upsert core --------------------------------------------------

    def _upsert(
        self,
        gated_for,
        parts: list[_WritePart],
        existing: DataFrame | None,
        key_cols: list[str],
    ) -> DataFrame:
        """Union every statement's write projection, seed with the
        existing table, resolve in ONE window per key — the generic form
        of `ingest.py`'s ``pw`` window (ingest.py:285-300).

        Each statement projects TWO lanes per property: a CREATE lane
        (fires on the first write of a previously-absent key) and a
        MATCH lane (every other write).  Bare ``SET`` feeds both lanes.
        Keep-old (``coalesce($p, v.prop)``) is baked into the per-row
        TOUCH flag at projection time — ``__tc/__tm`` are false when the
        incoming value is NULL — so different statements may use
        different modes on the same property without ambiguity.
        """
        all_props = sorted(
            {p for w in parts
             for vals in (w.create_vals, w.match_vals, w.set_vals)
             for p in vals}
        )

        def lanes(w: _WritePart, p: str) -> tuple[str, str, str, str]:
            """(c_val_sql, c_touch_sql, m_val_sql, m_touch_sql)."""
            def lane(primary: dict) -> tuple[str, str]:
                v = w.set_vals.get(p) or primary.get(p)
                if v is None:
                    return "null", "false"
                sql, keep = v
                return sql, f"(({sql}) IS NOT NULL)" if keep else "true"

            c = lane(w.create_vals)
            m = lane(w.match_vals)
            return c[0], c[1], m[0], m[1]

        write_frames = []
        for w in parts:
            lane_cols = []
            for p in all_props:
                cv, ct, mv, mt = lanes(w, p)
                lane_cols += [
                    F.expr(cv).alias(f"__c_{p}__"),
                    F.expr(ct).alias(f"__tc_{p}__"),
                    F.expr(mv).alias(f"__m_{p}__"),
                    F.expr(mt).alias(f"__tm_{p}__"),
                ]
            write_frames.append(
                gated_for(w.seq).select(
                    *[F.expr(sql).alias(k) for k, sql in w.key_exprs.items()],
                    F.struct(
                        F.col("__word0__").alias("w"), F.lit(w.seq).alias("seq")
                    ).alias("__word__"),
                    *lane_cols,
                )
            )
        writes = write_frames[0]
        for fr in write_frames[1:]:
            writes = writes.unionByName(fr)
        # a MERGE whose key expression is NULL no-ops (Cypher raises; the
        # reference pre-filters its params, events.py:300)
        for k in key_cols:
            writes = writes.filter(F.col(k).isNotNull())

        # settle one type per prop across both lanes (+ existing column)
        schema = {f.name: f.dataType.simpleString() for f in writes.schema.fields}
        prop_types: dict[str, str] = {}
        for p in all_props:
            tps = {schema[f"__c_{p}__"], schema[f"__m_{p}__"]}
            tps.discard("void")
            if existing is not None and p in existing.columns:
                tps.add(
                    {f.name: f.dataType.simpleString()
                     for f in existing.schema.fields}[p]
                )
            tpe = tps.pop() if len(tps) == 1 else "string"
            prop_types[p] = tpe
            for b in ("c", "m"):
                if schema[f"__{b}_{p}__"] != tpe:
                    writes = writes.withColumn(
                        f"__{b}_{p}__", F.col(f"__{b}_{p}__").cast(tpe)
                    )

        extra_cols: list[str] = []
        if existing is not None:
            for p in all_props:
                if p not in existing.columns:
                    existing = existing.withColumn(
                        p, F.lit(None).cast(prop_types[p])
                    )
                elif {f.name: f.dataType.simpleString()
                      for f in existing.schema.fields}[p] != prop_types[p]:
                    existing = existing.withColumn(
                        p, F.col(p).cast(prop_types[p])
                    )
            extra_cols = [
                c for c in existing.columns if c not in key_cols + all_props
            ]
            seed_lane_cols = []
            for p in all_props:
                seed_lane_cols += [
                    # the seed row delivers the stored value as the base,
                    # always touched, through the CREATE lane
                    F.col(p).alias(f"__c_{p}__"),
                    F.lit(True).alias(f"__tc_{p}__"),
                    F.lit(None).cast(prop_types[p]).alias(f"__m_{p}__"),
                    F.lit(False).alias(f"__tm_{p}__"),
                ]
            seed = existing.select(
                *key_cols,
                F.lit(_GEN_SEED).alias("__gen__"),
                F.lit(None).cast(writes.schema["__word__"].dataType).alias("__word__"),
                *seed_lane_cols,
                *extra_cols,
            )
            writes = writes.select(
                "*",
                F.lit(_GEN_WRITE).alias("__gen__"),
                *[
                    F.lit(None).cast(
                        {f.name: f.dataType for f in seed.schema.fields}[c]
                    ).alias(c)
                    for c in extra_cols
                ],
            )
            unioned = seed.unionByName(writes)
        else:
            unioned = writes.select("*", F.lit(_GEN_WRITE).alias("__gen__"))

        w = Window.partitionBy(*key_cols).orderBy("__gen__", "__word__")
        w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        rn = F.row_number().over(w)
        is_new = F.min("__gen__").over(w_all) == _GEN_WRITE
        # the CREATE lane fires on the first row of a key with no seed
        # row, and on the seed row itself (where it carries the base)
        create_lane = (is_new & (rn == 1)) | (F.col("__gen__") == _GEN_SEED)

        upd_cols = []
        for p in all_props:
            val = F.when(create_lane, F.col(f"__c_{p}__")).otherwise(
                F.col(f"__m_{p}__")
            )
            touched = F.when(create_lane, F.col(f"__tc_{p}__")).otherwise(
                F.col(f"__tm_{p}__")
            )
            upd_cols.append(
                F.when(touched, F.struct(val.alias("v"))).alias(f"__upd_{p}__")
            )

        staged = unioned.select(
            *key_cols, "__gen__", "__word__", *upd_cols, *extra_cols
        )
        resolved = staged.select(
            *key_cols,
            *[
                F.last(f"__upd_{p}__", ignorenulls=True).over(w_all)["v"].alias(p)
                for p in all_props
            ],
            *[F.last(c, ignorenulls=True).over(w_all).alias(c) for c in extra_cols],
            F.row_number().over(w).alias("__rn__"),
        )
        return resolved.filter(F.col("__rn__") == 1).drop("__rn__")

    # -- node / edge application ---------------------------------------------

    @staticmethod
    def _branch_vals(items: list[_SetItem]) -> dict[str, tuple[str, bool]]:
        return {i.prop: (i.value_sql, i.keep_old) for i in items}

    def _apply_nodes(
        self, label: str, stmts: list[_NodeStmt], gated_for
    ) -> None:
        keys = sorted(stmts[0].key_props)
        known = self.store.node_keys.get(label)
        if known is not None and sorted(known) != keys:
            raise CypherWriteError(
                f"label :{label} was merged on key {known}, template uses {keys}"
            )
        for st in stmts[1:]:
            if sorted(st.key_props) != keys:
                raise CypherWriteError(
                    f"label :{label} merged on two different key sets in one "
                    "template"
                )
        parts = [
            _WritePart(
                key_exprs=st.key_props,
                seq=st.seq,
                create_vals=self._branch_vals(st.on_create),
                match_vals=self._branch_vals(st.on_match),
                set_vals=self._branch_vals(st.bare_set),
            )
            for st in stmts
        ]
        self.store.nodes[label] = self._upsert(
            gated_for, parts, self.store.nodes.get(label), list(stmts[0].key_props)
        )
        self.store.node_keys[label] = list(stmts[0].key_props)

    def _endpoint_key_sql(self, t: _Template, var: str) -> str:
        st = next(n for n in t.nodes if n.var == var)
        if len(st.key_props) != 1:
            raise CypherWriteError(
                f"edge endpoint :{st.label} has a composite merge key; edges "
                "need single-property endpoint keys"
            )
        (expr,) = st.key_props.values()
        return expr

    def _apply_edges(
        self, rel: str, stmts: list[_EdgeStmt], t: _Template, gated_for
    ) -> None:
        parts = [
            _WritePart(
                key_exprs={
                    "src": self._endpoint_key_sql(t, st.src_var),
                    "dst": self._endpoint_key_sql(t, st.dst_var),
                },
                seq=st.seq,
                create_vals=self._branch_vals(st.on_create),
                match_vals=self._branch_vals(st.on_match),
                set_vals=self._branch_vals(st.bare_set),
            )
            for st in stmts
        ]
        self.store.edges[rel] = self._upsert(
            gated_for, parts, self.store.edges.get(rel), ["src", "dst"]
        )

    # -- deletes --------------------------------------------------------------

    def _apply_delete(self, d: _DeleteStmt, t: _Template, gated: DataFrame) -> None:
        for var in d.vars:
            edge = next((e for e in t.edges if e.var == var), None)
            if edge is not None:
                keys = gated.select(
                    F.expr(self._endpoint_key_sql(t, edge.src_var)).alias("src"),
                    F.expr(self._endpoint_key_sql(t, edge.dst_var)).alias("dst"),
                ).dropDuplicates()
                cur = self.store.edges.get(edge.rel)
                if cur is not None:
                    self.store.edges[edge.rel] = cur.join(
                        keys, ["src", "dst"], "left_anti"
                    )
                continue
            st = next(n for n in t.nodes if n.var == var)
            cur = self.store.nodes.get(st.label)
            if cur is None:
                continue
            keys = sorted(st.key_props)
            known = sorted(self.store.node_keys[st.label])
            if keys != known:
                raise CypherWriteError(
                    f"DELETE of :{st.label} must bind its merge key {known}"
                )
            key_vals = gated.select(
                *[F.expr(v).alias(k) for k, v in st.key_props.items()]
            ).dropDuplicates()
            self.store.nodes[st.label] = cur.join(
                key_vals, list(st.key_props), "left_anti"
            )
            if d.detach and len(keys) == 1:
                kv = key_vals.select(
                    F.col(keys[0]).cast("string").alias("__k__")
                )
                for rel, edf in list(self.store.edges.items()):
                    self.store.edges[rel] = (
                        edf.join(
                            kv, edf["src"].cast("string") == kv["__k__"], "left_anti"
                        ).join(
                            kv, F.col("dst").cast("string") == kv["__k__"], "left_anti"
                        )
                    )
