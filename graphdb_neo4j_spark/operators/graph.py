"""Graph query layer — the implied Cypher surface as DataFrame combinators.

The reference loads Neo4j so an analyst can run Cypher in the browser
(``/root/reference/main.py:19``).  This module re-expresses that query
surface (SURVEY.md §2.D) Spark-first:

* keyed lookup            → ``match(label, key=...)`` (Parquet pushdown)
* neighborhood            → ``out_neighbors`` / ``in_neighbors`` joins
* fixed k-hop motif       → ``find("(a)-[SPAWNS]->(b); (b)-[CONNECTED_TO]->(c)")``
  — a chain of hash joins Catalyst is free to reorder/broadcast
* aggregation             → plain ``groupBy().agg`` on the result
* existence/anti pattern  → ``semi`` / ``anti`` helpers
* variable-length paths   → bounded ``find("(a)-[REL*1..3]->(b)")``
  (union of chain joins, Cypher path multiplicity); unbounded reach →
  operators/traversal.py (iterative; no Catalyst recursion)

Motifs lower to ONE Spark SQL statement over the graph tables
(:func:`_pattern`), the same pattern lowering the Cypher front-end
(operators/cypher.py) builds its statements from: hops are joins on
``src``/``dst``, labels are semi-joins, rel types and labels are named
parameters, and the tables are frame arguments of one ``spark.sql``.
No collect, no UDFs.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphdb_neo4j_spark.operators.ingest import PropertyGraph

_MOTIF_RE = re.compile(
    r"^\(\s*(?P<src>\w+)(?:\s*:\s*(?P<src_label>\w+|`[^`]+`))?\s*\)"
    r"\s*-\s*\[\s*(?:(?P<ev>\w+)\s*:)?\s*(?P<rel>\w+|`[^`]+`)"
    r"\s*(?:\*\s*(?P<vspec>[\d.\s]*))?\s*\]"
    r"\s*(?P<arrow>->|-)\s*\(\s*(?P<dst>\w+)(?:\s*:\s*(?P<dst_label>\w+|`[^`]+`))?\s*\)$"
)


def _unq(name: str | None) -> str | None:
    """Strip Neo4j backtick escapes: ``` `My Rel` ``` → ``My Rel`` —
    labels and rel types are DATA VALUES in the graph tables, so any
    character is legal once unquoted."""
    if name and name.startswith("`") and name.endswith("`"):
        return name[1:-1]
    return name


def _parse_varlen(vspec: str | None, pat: str) -> tuple[int, int] | None:
    """``*lo..hi`` / ``*..hi`` / ``*k`` → (lo, hi); ``None`` for a plain
    single hop.  Unbounded forms (``*``, ``*2..``) are rejected — an
    unbounded traversal belongs to :mod:`~graphdb_neo4j_spark.operators.
    traversal` (iterative BFS), not a join chain."""
    if vspec is None:
        return None
    s = vspec.replace(" ", "")
    unbounded = ValueError(
        f"unbounded variable-length hop in {pat!r}: give an upper bound "
        "(e.g. [REL*1..4]) or use traversal.bfs for open-ended reach"
    )
    if s == "":
        raise unbounded
    if ".." in s:
        lo_s, hi_s = s.split("..", 1)
        if hi_s == "" or ".." in hi_s:
            raise unbounded
        lo, hi = (int(lo_s) if lo_s else 1), int(hi_s)
    else:
        lo = hi = int(s)
    if lo < 1 or hi < lo:
        raise ValueError(f"bad variable-length bounds in {pat!r}: *{s}")
    return lo, hi


# -- the SQL statement builder -------------------------------------------------


@dataclass
class _Hop:
    """``(src)-[ev:rel*lo..hi]->(dst)``; an undirected hop matches the
    relationship in both traversal directions."""

    src: str
    rel: str
    dst: str
    ev: str | None = None
    span: tuple[int, int] | None = None  # (lo, hi) of a *lo..hi hop
    undirected: bool = False


@dataclass
class _Rel:
    """One relation of a statement under construction: its SELECT text
    and its column names in order."""

    text: str
    cols: list[str]


def _q(name: str) -> str:
    """``name`` as a backticked SQL identifier, braces doubled for the
    frame-argument formatter of ``spark.sql``."""
    name = name.replace("`", "``").replace("{", "{{").replace("}", "}}")
    return f"`{name}`"


class _Sql:
    """The parameters and frame arguments of one ``spark.sql`` statement:
    values go in as named parameters (``:p0``), never into the text, and
    DataFrames as ``{name}`` frame arguments."""

    def __init__(self, spark):
        self.spark = spark
        self.args: dict[str, object] = {}
        self.frames: dict[str, DataFrame] = {}
        self.n_alias = 0

    def alias(self) -> str:
        self.n_alias += 1
        return f"__r{self.n_alias}"

    def param(self, value) -> str:
        for k, v in self.args.items():
            if type(v) is type(value) and v == value:
                return f":{k}"
        k = f"p{len(self.args)}"
        self.args[k] = value
        return f":{k}"

    def frame(self, df: DataFrame, stem: str) -> str:
        for k, v in self.frames.items():
            if v is df:
                return f"{{{k}}}"
        k = f"{stem}{len(self.frames)}"
        self.frames[k] = df
        return f"{{{k}}}"

    def run(self, text: str) -> DataFrame:
        # spark.sql drops each frame argument's temp view after analysis,
        # and dropping a view uncaches every cached plan equal to the
        # view's: a persisted graph table passed as is would lose its
        # cache.  A no-op filter makes the view's plan differ from the
        # cached one, which still substitutes inside it (the optimizer
        # then removes the filter).
        frames = {k: df.filter(F.lit(True)) for k, df in self.frames.items()}
        return self.spark.sql(text, args=self.args or None, **frames)


def _join(
    sql: _Sql, left: _Rel, right: _Rel, how: str,
    on: list[str], cond: str | None = None,
) -> _Rel:
    """``left {how} JOIN right`` on equal ``on`` columns, in USING-join
    column order (``on``, then left's, then right's).  Right's copies of
    ``on`` are renamed, so an extra predicate ``cond`` over both sides
    names every column once."""
    a, b = sql.alias(), sql.alias()
    hid = {c: f"__j{i}" for i, c in enumerate(on)}
    rsel = ", ".join(f"{_q(c)} AS {hid[c]}" if c in hid else _q(c) for c in right.cols)
    conds = [f"{a}.{_q(c)} = {b}.{hid[c]}" for c in on] + ([f"({cond})"] if cond else [])
    if how in ("LEFT SEMI", "LEFT ANTI"):
        cols = left.cols
    else:
        cols = on + [c for c in left.cols if c not in on]
        cols += [c for c in right.cols if c not in on]
    sel = ", ".join(f"{a if c in left.cols else b}.{_q(c)}" for c in cols)
    return _Rel(
        f"SELECT {sel} FROM ({left.text}) {a} {how} JOIN "
        f"(SELECT {rsel} FROM ({right.text})) {b} ON {' AND '.join(conds)}",
        cols,
    )


def _labeled(sql: _Sql, gq: "GraphQuery", rel: _Rel, var: str, label: str | None) -> _Rel:
    """``rel`` semi-joined on ``var`` against the keys of ``label``'s
    nodes (any node when ``label`` is None) — Cypher's label predicate;
    label is a partition column of the canonical layout, so the semi-join
    side is a pruned scan."""
    a, b = sql.alias(), sql.alias()
    where = f" WHERE label = {sql.param(label)}" if label is not None else ""
    return _Rel(
        f"SELECT {a}.* FROM ({rel.text}) {a} LEFT SEMI JOIN "
        f"(SELECT key FROM {sql.frame(gq.nodes, 'nodes')}{where}) {b} "
        f"ON {b}.key = {a}.{_q(var)}",
        rel.cols,
    )


def _hop_rel(sql: _Sql, gq: "GraphQuery", h: _Hop, prefer: str | None) -> str:
    """(src, dst[, __ev]) rows of one hop: the ``rel`` edges from the
    orientation bucketed on the hop's join key (``prefer`` ∈ {"src",
    "dst", None}), both orientations for an undirected hop (self-loops
    once), and for ``*lo..hi`` one row per path — a UNION ALL of the
    k-fold chain joins for k in lo..hi.  Walk semantics: an edge may
    repeat along a path (only on cyclic graphs; a DAG path never reuses
    an edge, so there it is Cypher's relationship-unique semantics)."""
    table = gq.edges
    if prefer == "src" and gq.edges_by_src is not None:
        table = gq.edges_by_src
    elif prefer == "dst" and gq.edges_by_dst is not None:
        table = gq.edges_by_dst
    t, r = sql.frame(table, "edges"), sql.param(h.rel)
    ev = ""
    if h.ev:
        props = [_q(c) for c in table.columns if c not in ("rel", "src", "dst")]
        ev = f", struct({', '.join(props)}) AS __ev"
    one = f"SELECT src, dst{ev} FROM {t} WHERE rel = {r}"
    if h.undirected:
        one += f" UNION ALL SELECT dst, src{ev} FROM {t} WHERE rel = {r} AND src <> dst"
    if h.span is None:
        return one
    arms = []
    for k in range(h.span[0], h.span[1] + 1):
        chain = "".join(
            f" JOIN ({one}) __v{j} ON __v{j}.src = __v{j - 1}.dst" for j in range(1, k)
        )
        arms.append(f"SELECT __v0.src, __v{k - 1}.dst FROM ({one}) __v0{chain}")
    return " UNION ALL ".join(arms)


def _pattern(sql: _Sql, gq: "GraphQuery", hops: list[_Hop], labels: dict[str, str]) -> _Rel:
    """The rows of a chain of hops: one column per node variable (the
    node key) and, for named edge variables, a struct of the edge's
    props.  Each hop joins the earlier ones on the ``src``/``dst`` of
    the variables it shares with them (a variable bound twice is an
    equality, exactly like Cypher); each labeled variable adds one
    semi-join.  Orientation: each hop reads the edge table bucketed on
    its join key, so chained hops over ``save_bucketed`` tables need no
    shuffle; hop 0 has no join yet and takes the key the NEXT hop
    shares."""
    bound: dict[str, str] = {}
    cols: list[str] = []
    sel: list[str] = []
    body, where = "", []
    for i, h in enumerate(hops):
        if h.ev and h.span:
            raise ValueError(
                f"edge variable {h.ev!r} on a variable-length hop: a path "
                "binds a list of edges, which has no struct column"
            )
        if i == 0:
            nxt = {hops[1].src, hops[1].dst} if len(hops) > 1 else set()
            prefer = "dst" if h.dst in nxt else "src" if h.src in nxt else None
        else:
            prefer = "src" if h.src in bound else "dst" if h.dst in bound else None
            if prefer is None:
                raise ValueError(
                    f"pattern ({h.src})-[{h.rel}]-({h.dst}) shares no variable "
                    "with earlier patterns"
                )
        e = f"__e{i}"
        conds = [f"{e}.{end} = {bound[v]}" for end, v in (("src", h.src), ("dst", h.dst))
                 if v in bound]
        if h.src == h.dst and h.src not in bound:
            conds.append(f"{e}.src = {e}.dst")  # self-loop pattern (a)-[R]->(a)
        rel = _hop_rel(sql, gq, h, "src" if h.span else prefer)
        if i == 0:
            body, where = f"({rel}) {e}", conds
        else:
            body += f" JOIN ({rel}) {e} ON {' AND '.join(conds)}"
        for end, v in (("src", h.src), ("dst", h.dst)):
            if v not in bound:
                bound[v] = f"{e}.{end}"
                cols.append(v)
                sel.append(f"{e}.{end} AS {_q(v)}")
        if h.ev:
            cols.append(h.ev)
            sel.append(f"{e}.__ev AS {_q(h.ev)}")
    where_sql = f" WHERE {' AND '.join(where)}" if where else ""
    rel = _Rel(f"SELECT {', '.join(sel)} FROM {body}{where_sql}", cols)
    for var, lab in labels.items():
        rel = _labeled(sql, gq, rel, var, lab)
    return rel


@dataclass
class GraphQuery:
    """Combinator API over the canonical graph tables.

    ``nodes``: (label, key [, extra property columns])
    ``edges``: (rel, src, dst, event_id, ...props)
    ``edges_by_src`` / ``edges_by_dst``: optional bucketed+sorted
    orientations (written by ``PropertyGraph.save_bucketed``).  When
    present, :meth:`find` picks the orientation whose bucket key is the
    join key of each hop, so motif chains run WITHOUT a shuffle — both
    join sides arrive pre-bucketed (SortMergeJoin, no Exchange).
    """

    nodes: DataFrame
    edges: DataFrame
    edges_by_src: DataFrame | None = None
    edges_by_dst: DataFrame | None = None

    @classmethod
    def from_graph(cls, g: PropertyGraph) -> "GraphQuery":
        return cls(nodes=g.nodes(), edges=g.edges)

    @classmethod
    def load(cls, spark, path: str) -> "GraphQuery":
        return cls(
            nodes=spark.read.parquet(f"{path}/nodes"),
            edges=spark.read.parquet(f"{path}/edges"),
        )

    @classmethod
    def load_bucketed(
        cls, spark, nodes: DataFrame, name_prefix: str = "graph"
    ) -> "GraphQuery":
        """Bind the doubly-bucketed edge tables from the catalog (falls
        back to plain ``edges`` orientation when a table is missing)."""
        by_src = f"{name_prefix}_edges_by_src"
        by_dst = f"{name_prefix}_edges_by_dst"
        e_src = spark.table(by_src) if spark.catalog.tableExists(by_src) else None
        e_dst = spark.table(by_dst) if spark.catalog.tableExists(by_dst) else None
        base = e_src if e_src is not None else e_dst
        if base is None:
            raise ValueError(f"no bucketed tables with prefix {name_prefix!r}")
        return cls(nodes=nodes, edges=base, edges_by_src=e_src, edges_by_dst=e_dst)

    # -- lookups -----------------------------------------------------------

    def match(self, label: str, **props) -> DataFrame:
        """``MATCH (n:Label {prop: val})`` — label + equality predicates;
        label and key predicates push down to the partitioned scan."""
        df = self.nodes.filter(F.col("label") == label)
        for k, v in props.items():
            df = df.filter(F.col(k) == v)
        return df

    def rel(self, rel: str) -> DataFrame:
        return self.edges.filter(F.col("rel") == rel)

    # -- neighborhood ------------------------------------------------------

    def out_neighbors(self, keys: DataFrame, rel: str, key_col: str = "key") -> DataFrame:
        """Keys → distinct destination keys over ``rel`` edges."""
        e = self.rel(rel)
        return (
            keys.join(e, keys[key_col] == e["src"])
            .select(F.col("dst").alias(key_col))
            .distinct()
        )

    def in_neighbors(self, keys: DataFrame, rel: str, key_col: str = "key") -> DataFrame:
        e = self.rel(rel)
        return (
            keys.join(e, keys[key_col] == e["dst"])
            .select(F.col("src").alias(key_col))
            .distinct()
        )

    # -- motif matching ----------------------------------------------------

    def _motif(self, sql: _Sql, motif: str) -> _Rel:
        """Parse ``motif`` and lower it through :func:`_pattern`."""
        patterns = [p.strip() for p in motif.split(";") if p.strip()]
        if not patterns:
            raise ValueError("empty motif")
        hops: list[_Hop] = []
        labels: dict[str, str] = {}
        for pat in patterns:
            m = _MOTIF_RE.match(pat)
            if not m:
                raise ValueError(f"bad motif pattern: {pat!r}")
            for var, lab in (
                (m["src"], _unq(m["src_label"])),
                (m["dst"], _unq(m["dst_label"])),
            ):
                if lab:
                    if labels.get(var, lab) != lab:
                        raise ValueError(
                            f"conflicting labels for {var!r}: "
                            f"{labels[var]!r} vs {lab!r}"
                        )
                    labels[var] = lab
            hops.append(_Hop(
                m["src"], _unq(m["rel"]), m["dst"], m["ev"],
                _parse_varlen(m["vspec"], pat), m["arrow"] == "-",
            ))
        return _pattern(sql, self, hops, labels)

    def find(self, motif: str) -> DataFrame:
        """Bounded pattern match, GraphFrames-style.

        ``find("(a)-[SPAWNS]->(b); (b)-[e:CONNECTED_TO]->(c)")`` returns a
        DataFrame with one column per node variable (the node key) and,
        for named edge variables, a struct column with the edge props.

        Variable-length hops use Cypher's star syntax —
        ``find("(a)-[SPAWNS*1..3]->(b)")`` — expanded as a union of
        bounded chain joins, one row per path.  Edge variables are not
        allowed on a variable-length hop (a path has a LIST of edges,
        not one).

        Node labels use Cypher's colon syntax —
        ``find("(a:Process)-[SPAWNS]->(b:Process)")`` — each labeled
        variable adds one semi-join against the (label-pruned) node
        table; the same variable must not claim two different labels.

        UNDIRECTED hops drop the arrowhead — ``find("(a)-[R]-(b)")`` —
        and match the relationship in both traversal directions (two
        rows per edge, one per binding, exactly Cypher; self-loops
        bind once).  Lowered as a bidirectional edge relation for that
        hop, so a chain with k undirected hops stays k linear joins —
        never a 2^k union of orientations.

        Each pattern adds one hash join on key equality; Catalyst's CBO /
        AQE pick broadcast vs shuffle per join.  Node variables repeat to
        express shared endpoints; a variable bound twice becomes an
        equality condition, exactly like Cypher.  The whole motif is one
        ``spark.sql`` statement.
        """
        sql = _Sql(self.edges.sparkSession)
        return sql.run(self._motif(sql, motif).text)

    def find_optional(self, motif: str, optional: str) -> DataFrame:
        """``MATCH motif OPTIONAL MATCH optional`` — the required motif
        result left-joined against the optional pattern group on their
        shared node variables; optional-only variables (and edge-prop
        structs) come back NULL where the optional group has no match.
        Cypher semantics per optional GROUP: rows multiply when the
        optional part matches several times, and survive (with NULLs)
        when it matches none.  One extra left hash join — AQE/CBO still
        free to broadcast the smaller side."""
        sql = _Sql(self.edges.sparkSession)
        req, opt = self._motif(sql, motif), self._motif(sql, optional)
        shared = [c for c in req.cols if c in opt.cols]
        if not shared:
            raise ValueError(
                "optional pattern shares no node variable with the motif"
            )
        return sql.run(_join(sql, req, opt, "LEFT", shared).text)

    # -- set-style patterns --------------------------------------------------

    def semi(self, keys: DataFrame, rel: str, key_col: str = "key") -> DataFrame:
        """``WHERE (n)-[:rel]->()`` — keep keys having an outgoing rel."""
        e = self.rel(rel).select(F.col("src").alias(key_col))
        return keys.join(e, key_col, "left_semi")

    def anti(self, keys: DataFrame, rel: str, key_col: str = "key") -> DataFrame:
        """``WHERE NOT (n)-[:rel]->()`` — keys with no outgoing rel."""
        e = self.rel(rel).select(F.col("src").alias(key_col))
        return keys.join(e, key_col, "left_anti")

    # -- analytics-lite ------------------------------------------------------

    def degrees(self, rel: str | None = None) -> DataFrame:
        """(key, in_degree, out_degree, degree) — one shuffle each side."""
        e = self.edges if rel is None else self.rel(rel)
        out_d = e.groupBy(F.col("src").alias("key")).agg(F.count("*").alias("out_degree"))
        in_d = e.groupBy(F.col("dst").alias("key")).agg(F.count("*").alias("in_degree"))
        return (
            out_d.join(in_d, "key", "full_outer")
            .fillna(0, subset=["in_degree", "out_degree"])
            .withColumn("degree", F.col("in_degree") + F.col("out_degree"))
        )

    def cypher(
        self, query: str, props: dict[str, DataFrame] | None = None
    ) -> DataFrame:
        """Run Cypher text against this graph — the migrating analyst's
        one-liner (`operators/cypher.py` documents the supported subset):

        >>> gq.cypher("MATCH (a:Process)-[:SPAWNS*1..3]->(b) RETURN b")
        """
        from graphdb_neo4j_spark.operators.cypher import cypher

        return cypher(self, query, props=props)


def graph_diff(old, new) -> DataFrame:
    """(kind, name, change, n) — multiset diff between two property
    graphs: the ``exceptAll`` graph-diffing surface SURVEY §2.D calls
    out for comparing corpus versions (what did the new drop add,
    what disappeared, which edges were rewritten).

    * ``(node, <label>, added|removed, n)`` — identity = (label, key);
    * ``(edge, <rel>, added|removed, n)`` — identity = (rel, src, dst);
    * ``(edge, <rel>, modified, n)`` — same identity on both sides but
      different properties (last-writer-wins resolution drift);
    * ``(node, <label>, modified, n)`` — same key, different node
      properties, for every typed node table.

    100 TB shape: every leg is a hash ``exceptAll``/anti-join keyed on
    the graph's natural identity columns — the same shuffle keys the
    partitioned graph tables already carry, so corpus-version diffing
    co-partitions with the layout and never compares across labels or
    rel types.
    """
    def cnt(df: DataFrame, kind: str, change: str, name_col) -> DataFrame:
        return (
            df.groupBy(name_col.alias("name"))
            .agg(F.count("*").cast("bigint").alias("n"))
            .select(
                F.lit(kind).alias("kind"),
                "name",
                F.lit(change).alias("change"),
                "n",
            )
        )

    on, nn = old.nodes(), new.nodes()
    oe = old.edges.select("rel", "src", "dst")
    ne = new.edges.select("rel", "src", "dst")
    parts = [
        cnt(nn.exceptAll(on), "node", "added", F.col("label")),
        cnt(on.exceptAll(nn), "node", "removed", F.col("label")),
    ]
    edge_add = ne.exceptAll(oe)
    edge_rem = oe.exceptAll(ne)
    parts += [
        cnt(edge_add, "edge", "added", F.col("rel")),
        cnt(edge_rem, "edge", "removed", F.col("rel")),
    ]
    # modified = identity exists on BOTH sides, any property differs
    # (null-safe compare) — a co-partitioned key join per table, never
    # a full-row multiset subtraction
    def modified(nt: DataFrame, ot: DataFrame, keys: list[str]) -> DataFrame:
        prop_cols = [c for c in nt.columns if c not in keys]
        if not prop_cols:
            return nt.limit(0).select(*keys)
        n_side = nt.select(
            *keys, *[F.col(c).alias(f"__n_{c}") for c in prop_cols]
        )
        o_side = ot.select(
            *keys, *[F.col(c).alias(f"__o_{c}") for c in prop_cols]
        )
        drift = None
        for c in prop_cols:
            neq = ~F.col(f"__n_{c}").eqNullSafe(F.col(f"__o_{c}"))
            drift = neq if drift is None else (drift | neq)
        return n_side.join(o_side, keys).filter(drift).select(*keys)

    parts.append(
        cnt(
            modified(new.edges, old.edges, ["rel", "src", "dst"]),
            "edge",
            "modified",
            F.col("rel"),
        )
    )
    for label, attr, key_col in [
        ("Process", "process", "key"),
        ("RegistryValue", "registry_value", "path"),
        ("WmiFilter", "wmi_filter", "name"),
        ("WmiConsumer", "wmi_consumer", "name"),
    ]:
        parts.append(
            cnt(
                modified(getattr(new, attr), getattr(old, attr), [key_col]),
                "node",
                "modified",
                F.lit(label),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
