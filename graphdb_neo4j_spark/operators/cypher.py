"""Cypher front-end — the reference's ACTUAL analyst language, compiled
to DataFrame plans.

The reference's deliverable is "open Neo4j Browser and run Cypher"
(/root/reference/main.py:19).  `GraphQuery` re-expresses that surface as
combinators; this module closes the last gap for a migrating analyst by
accepting the Cypher TEXT itself for the read-query subset the
reference's schema implies:

    MATCH (a:Process {image: 'powershell.exe'})-[:SPAWNS*1..3]->(b),
          (b)-[:CONNECTED_TO]->(ip:Ip)
    OPTIONAL MATCH (b)-[:CREATED_FILE]->(f:File)
    WHERE ip.key STARTS WITH '10.' AND b <> a
    RETURN a AS root, b, ip.key AS addr, count(f) AS n_files
    ORDER BY n_files DESC, root LIMIT 10

Supported subset (every construct maps to a relational plan — nothing
is interpreted row-by-row):

* ``MATCH`` with comma-separated patterns; chains
  ``(a)-[:R]->(b)-[:S]->(c)``; reverse arrows ``<-[:R]-``; UNDIRECTED
  relationships ``(a)-[:R]-(b)`` (both traversal directions, one row
  per binding, self-loops once — lowered as a bidirectional edge frame
  for that hop, so k undirected hops stay k linear joins); node labels
  ``(a:Label)``; inline property maps ``{p: lit}``; edge variables
  ``[e:R]``; bounded variable-length ``[:R*lo..hi]`` (unbounded ``*``
  is rejected — open-ended reach is `traversal.bfs`, not a join chain);
  single-node patterns ``MATCH (n:Label)``.
* any number of ``OPTIONAL MATCH`` groups — each clause is its own
  left join on shared variables, and inline property maps inside an
  optional pattern filter the OPTIONAL side before the join (a
  non-matching optional NULL-extends; it never kills the outer row).
* ``WHERE`` — any Spark-SQL-expressible boolean over node variables
  (``a`` = the node key), node properties (``a.prop``, resolved through
  the per-label property tables), and edge-variable fields
  (``e.event_id``); Cypher spellings ``STARTS WITH`` / ``ENDS WITH`` /
  ``CONTAINS`` / ``<>`` / ``IN [..]`` are rewritten to their SQL
  equivalents; ``EXISTS {(a)-[:R]->(b)}`` / ``NOT EXISTS (…)`` at
  top-level AND conjuncts compile to semi/anti joins — including the
  correlated property-filtered forms ``EXISTS { (a)-[:R]->(x:L
  {prop: v}) }`` and ``EXISTS { (a)-[:R]->(x:L) WHERE x.prop > v }``
  (the property join lands on the EXISTS side only, before the
  semi/anti join).
* ``RETURN [DISTINCT]`` items with ``AS`` aliases; aggregates
  count/sum/min/max/avg/collect with Cypher's implicit grouping (all
  non-aggregate items become the GROUP BY key).
* ``ORDER BY`` on returned columns, ``LIMIT`` (a totally-ordered limit
  plans as TakeOrderedAndProject — no global sort).
* ``WITH`` pipelines: project/aggregate mid-query, ``WITH ... WHERE``
  (Cypher's HAVING), ``ORDER BY``/``LIMIT`` midstream, then MATCH again
  from the carried variables — all folded into ONE Catalyst plan.
* ``shortestPath((a {key:'x'})-[:REL*]->(b))`` — pinned source, pinned
  or free destination; compiles to the iterative BFS + deterministic
  backtrace in operators/traversal.py (the one construct that is not a
  join chain), and ``length(p)`` works on the bound path.
* ``UNWIND list AS var`` (map-side explode; ``nodes(p)`` unwraps a
  bound path's key array) and ``SKIP n`` after ORDER BY.
* pattern-count expressions ``size((n)-[:R]->())`` (classic degree
  idiom) and ``COUNT { (n)-[:R]->() }`` (Neo4j 5 spelling) anywhere in
  WHERE / RETURN — each lowers to ONE grouped count left-joined onto
  the match, composable with arithmetic and aggregates; bare pattern
  predicates ``WHERE [NOT] (p)-[:R]->(x)`` lower to semi/anti joins.
* backtick escapes throughout: property names (``p.`sigma.alert```,
  exact column name, dots literal) and labels / relationship types
  (``(a:`My Label`)-[:`HAS PART`]->(b)`` — data values once
  unquoted).

Execution inherits everything GraphQuery already guarantees: each hop
is a key equi-join Catalyst/AQE may broadcast or bucket, labels are
semi-joins against the pruned node table, and property access joins the
label's property table only for properties the query actually touches.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphdb_neo4j_spark.operators.graph import GraphQuery

# -- clause-level splitting (quote-aware) -----------------------------------

_CLAUSE_KEYWORDS = [
    "OPTIONAL MATCH",
    "MATCH",
    "WHERE",
    "WITH",
    "RETURN",
    "UNWIND",
    "ORDER BY",
    "SKIP",
    "LIMIT",
]


def _split_clauses(q: str) -> list[tuple[str, str]]:
    """[(keyword, body)] in source order; single-quoted strings AND
    brace blocks (EXISTS { … WHERE … }) are opaque to keyword
    detection."""
    # positions of every top-level keyword occurrence
    upper = q.upper()
    hits: list[tuple[int, str]] = []
    in_str = False
    depth = 0
    i = 0
    while i < len(upper):
        ch = q[i]
        if ch == "'":
            in_str = not in_str
            i += 1
            continue
        if not in_str and ch == "{":
            depth += 1
        elif not in_str and ch == "}":
            depth -= 1
        if not in_str and depth == 0:
            for kw in _CLAUSE_KEYWORDS:
                end = i + len(kw)
                if (
                    upper.startswith(kw, i)
                    and (i == 0 or not upper[i - 1].isalnum())
                    and (end >= len(upper) or not upper[end].isalnum())
                ):
                    # "MATCH" must not re-match inside "OPTIONAL MATCH"
                    if kw == "MATCH" and hits and hits[-1][1] == "OPTIONAL MATCH" and (
                        i - hits[-1][0] == len("OPTIONAL ")
                    ):
                        break
                    # the WITH in "STARTS WITH" / "ENDS WITH" is an
                    # operator, not a clause boundary
                    if kw == "WITH":
                        before = upper[:i].rstrip()
                        if before.endswith("STARTS") or before.endswith("ENDS"):
                            break
                    hits.append((i, kw))
                    i = end - 1
                    break
        i += 1
    if not hits or hits[0][0] != 0:
        raise ValueError("query must start with MATCH")
    out = []
    for n, (pos, kw) in enumerate(hits):
        end = hits[n + 1][0] if n + 1 < len(hits) else len(q)
        out.append((kw, q[pos + len(kw):end].strip()))
    return out


def _split_top_commas(s: str) -> list[str]:
    """Split on commas outside (), [], {}, and quotes."""
    parts, depth, in_str, cur = [], 0, False, []
    for ch in s:
        if ch == "'":
            in_str = not in_str
        if not in_str:
            if ch in "([{":
                depth += 1
            elif ch in ")]}":
                depth -= 1
            elif ch == "," and depth == 0:
                parts.append("".join(cur).strip())
                cur = []
                continue
        cur.append(ch)
    if "".join(cur).strip():
        parts.append("".join(cur).strip())
    return parts


# -- pattern parsing ---------------------------------------------------------

# an inline property map; quoted values may hold braces (Sysmon GUIDs
# are written '{...}')
_MAP = r"\{(?:[^}'\"]|'[^']*'|\"[^\"]*\")*\}"
_NODE_RE = re.compile(
    r"\(\s*(?P<var>\w+)?\s*(?::\s*(?P<label>\w+|`[^`]+`))?\s*"
    rf"(?P<props>{_MAP})?\s*\)"
)
_EDGE_RE = re.compile(
    r"(?P<back><)?-\s*\[\s*(?:(?P<ev>\w+))?\s*:\s*(?P<rel>\w+|`[^`]+`)\s*"
    rf"(?P<vspec>\*[\d.\s]*)?\s*(?P<eprops>{_MAP})?\s*\]\s*-(?P<fwd>>)?"
)


def _unq_name(name: str | None) -> str | None:
    """Strip backtick escapes from a label / rel-type token (they are
    data values in the graph tables once unquoted)."""
    if name and name.startswith("`") and name.endswith("`"):
        return name[1:-1]
    return name


def _bt(name: str) -> str:
    """Re-quote a label / rel type for the GraphQuery.find motif text
    when it contains non-word characters."""
    return f"`{name}`" if re.search(r"\W", name) else name


@dataclass
class _Hop:
    src: str
    rel: str
    dst: str
    ev: str | None
    vspec: str | None  # raw "*lo..hi" text (validated by GraphQuery)
    undirected: bool = False  # (a)-[R]-(b): match both directions


@dataclass
class _ShortestPath:
    path_var: str
    src: str
    src_key: str  # literal (unquoted)
    rel: str
    dst: str
    dst_key: str | None  # literal, or None = all reachable
    lo: int
    hi: int | None  # None = unbounded (iterative BFS, not a join chain)


@dataclass
class _OptGroup:
    """One OPTIONAL MATCH clause — its own left-join group with its own
    inline predicates (which must filter the optional side BEFORE the
    left join, or NULL-extended rows would be wrongly dropped)."""

    hops: list[_Hop] = field(default_factory=list)
    labels: dict[str, str] = field(default_factory=dict)
    preds: list[str] = field(default_factory=list)


@dataclass
class _Parsed:
    hops: list[_Hop] = field(default_factory=list)
    single_nodes: list[str] = field(default_factory=list)  # vars with no hop
    labels: dict[str, str] = field(default_factory=dict)
    inline_preds: list[str] = field(default_factory=list)  # SQL predicates
    optionals: list[_OptGroup] = field(default_factory=list)
    paths: list[_ShortestPath] = field(default_factory=list)


def _parse_patterns(body: str, parsed: _Parsed, into_optional: bool) -> None:
    group = _OptGroup() if into_optional else None
    hops = group.hops if group is not None else parsed.hops
    labels = group.labels if group is not None else parsed.labels
    preds = group.preds if group is not None else parsed.inline_preds
    anon = [0]

    def node(m: re.Match) -> str:
        var = m["var"]
        if var is None:
            anon[0] += 1
            var = f"__anon{anon[0]}"
        if m["label"]:
            lab = _unq_name(m["label"])
            if labels.get(var, lab) != lab:
                raise ValueError(f"conflicting labels for {var!r}")
            labels[var] = lab
        if m["props"]:
            inner = m["props"].strip()[1:-1].strip()
            if inner:
                for kv in _split_top_commas(inner):
                    k, _, v = kv.partition(":")
                    if not _:
                        raise ValueError(f"bad property map entry {kv!r}")
                    k, v = k.strip(), v.strip()
                    col = var if k == "key" else f"{var}.{k}"
                    preds.append(f"{col} = {v}")
        return var

    for pat in _split_top_commas(body):
        sp = _SSP_RE.match(pat)
        if sp:
            if into_optional:
                raise ValueError("shortestPath is not supported in OPTIONAL MATCH")
            parsed.paths.append(_parse_shortest_path(sp, labels))
            continue
        pos = 0
        m = _NODE_RE.match(pat, pos)
        if not m:
            raise ValueError(f"bad pattern {pat!r}")
        prev = node(m)
        pos = m.end()
        had_hop = False
        while pos < len(pat):
            em = _EDGE_RE.match(pat, pos)
            if not em:
                raise ValueError(f"bad pattern tail {pat[pos:]!r}")
            nm = _NODE_RE.match(pat, em.end())
            if not nm:
                raise ValueError(f"edge without target node in {pat!r}")
            nxt = node(nm)
            if em["back"] and em["fwd"]:
                raise ValueError(f"double-headed edge in {pat!r}")
            undirected = not em["back"] and not em["fwd"]
            vspec = em["vspec"][1:].strip() if em["vspec"] else None
            ev = em["ev"]
            # inline edge-property map [e:REL {prop: v}] — desugars to
            # an edge-var predicate (auto-naming the edge if needed)
            if em["eprops"]:
                einner = em["eprops"].strip()[1:-1].strip()
                if einner and vspec is not None:
                    raise ValueError(
                        "property maps on variable-length relationships "
                        "are not supported"
                    )
                if einner:
                    if ev is None:
                        anon[0] += 1
                        ev = f"__eanon{anon[0]}"
                    for kv in _split_top_commas(einner):
                        k, sep, v = kv.partition(":")
                        if not sep:
                            raise ValueError(f"bad property map entry {kv!r}")
                        preds.append(f"{ev}.{k.strip()} = {v.strip()}")
            if em["back"]:
                hops.append(_Hop(nxt, _unq_name(em["rel"]), prev, ev, vspec))
            else:
                hops.append(
                    _Hop(prev, _unq_name(em["rel"]), nxt, ev, vspec,
                         undirected)
                )
            prev = nxt
            pos = nm.end()
            had_hop = True
        if not had_hop:
            if into_optional:
                raise ValueError("OPTIONAL MATCH needs at least one hop")
            parsed.single_nodes.append(prev)
    if group is not None:
        parsed.optionals.append(group)


_SSP_RE = re.compile(
    r"^\s*(?P<pv>\w+)\s*=\s*shortestPath\s*\(\s*(?P<inner>.+)\)\s*$",
    re.I | re.S,
)


def _key_pin(props_text: str | None) -> str | None:
    """Extract the literal from an endpoint's ``{key: 'lit'}`` map."""
    if not props_text:
        return None
    inner = props_text.strip()[1:-1].strip()
    for kv in _split_top_commas(inner):
        k, _, v = kv.partition(":")
        if k.strip() == "key":
            v = v.strip()
            if not (v.startswith("'") and v.endswith("'")):
                raise ValueError(
                    f"shortestPath endpoint key must be a string literal, got {v!r}"
                )
            return v[1:-1]
    return None


def _parse_shortest_path(
    sp: re.Match, labels: dict[str, str]
) -> _ShortestPath:
    """``p = shortestPath((a {key:'X'})-[:REL*]->(b))`` — source pinned,
    destination pinned or free; ``*`` / ``*..k`` / ``*lo..hi`` bounds.
    Unbounded reach is legal HERE (it compiles to the iterative BFS in
    operators/traversal.py, not a join chain)."""
    inner = sp["inner"].strip()
    m1 = _NODE_RE.match(inner)
    if not m1:
        raise ValueError(f"bad shortestPath pattern: {inner!r}")
    em = _EDGE_RE.match(inner, m1.end())
    if not em or em["back"] or not em["fwd"]:
        raise ValueError(
            f"shortestPath needs a forward -[:REL*..]-> hop: {inner!r}"
        )
    m2 = _NODE_RE.match(inner, em.end())
    if not m2 or inner[m2.end():].strip():
        raise ValueError(f"bad shortestPath pattern tail: {inner!r}")
    if em["ev"]:
        raise ValueError("shortestPath binds a path, not an edge variable")
    if em["vspec"] is None:
        raise ValueError("shortestPath needs a variable-length hop (e.g. *, *..8)")
    s = em["vspec"][1:].replace(" ", "")
    lo, hi = 1, None
    if s:
        if ".." in s:
            lo_s, hi_s = s.split("..", 1)
            lo = int(lo_s) if lo_s else 1
            hi = int(hi_s) if hi_s else None
        else:
            lo = hi = int(s)
    src, dst = m1["var"] or "__sp_src", m2["var"] or "__sp_dst"
    for m in (m1, m2):
        var = m["var"] or (src if m is m1 else dst)
        if m["label"]:
            lab = _unq_name(m["label"])
            if labels.get(var, lab) != lab:
                raise ValueError(f"conflicting labels for {var!r}")
            labels[var] = lab
    src_key = _key_pin(m1["props"])
    if src_key is None:
        raise ValueError(
            "shortestPath source must be pinned: ({var} {key: 'literal'})"
        )
    return _ShortestPath(
        path_var=sp["pv"], src=src, src_key=src_key, rel=_unq_name(em["rel"]),
        dst=dst, dst_key=_key_pin(m2["props"]), lo=lo, hi=hi,
    )


def _split_top_and(s: str) -> list[str]:
    """Split a boolean expression on top-level AND (outside parens,
    brackets, and quotes) — the conjunct granularity at which EXISTS
    subpatterns are lifted into semi/anti joins."""
    parts, depth, in_str, cur = [], 0, False, []
    i = 0
    up = s.upper()
    while i < len(s):
        ch = s[i]
        if ch == "'":
            in_str = not in_str
        if not in_str:
            if ch in "([{":
                depth += 1
            elif ch in ")]}":
                depth -= 1
            elif (
                depth == 0
                and up.startswith("AND", i)
                and (i == 0 or not up[i - 1].isalnum())
                and (i + 3 >= len(up) or not up[i + 3].isalnum())
            ):
                parts.append("".join(cur).strip())
                cur = []
                i += 3
                continue
        cur.append(ch)
        i += 1
    if "".join(cur).strip():
        parts.append("".join(cur).strip())
    return parts


def _has_top_level_or(s: str) -> bool:
    depth, in_str = 0, False
    up = s.upper()
    for i, ch in enumerate(s):
        if ch == "'":
            in_str = not in_str
        if not in_str:
            if ch in "([{":
                depth += 1
            elif ch in ")]}":
                depth -= 1
            elif (
                depth == 0
                and up.startswith("OR", i)
                and (i == 0 or not up[i - 1].isalnum())
                and (i + 2 >= len(up) or not up[i + 2].isalnum())
            ):
                return True
    return False


_EXISTS_RE = re.compile(
    r"^(?P<neg>NOT\s+)?EXISTS\s*\{(?P<pat>.+)\}$|"
    r"^(?P<neg2>NOT\s+)?EXISTS\s*\(\s*(?P<pat2>\(.+\))\s*\)$",
    re.I | re.S,
)
# bare pattern predicate: ``(p)-[:R]->(x)`` / ``NOT (p)-[:R]->()`` as a
# WHERE conjunct (the classic Neo4j existence idiom, pre-EXISTS)
_BARE_PAT_RE = re.compile(
    r"^(?P<neg>NOT\s+)?(?P<pat>\(.*\)\s*(?:<-|-)\s*\[.+\]\s*-.*\))$",
    re.I | re.S,
)

_SIZE_HEAD = re.compile(r"\bsize\s*\(", re.I)
_COUNT_HEAD = re.compile(r"\bCOUNT\s*\{", re.I)


def _extract_pattern_counts(
    text: str | None, specs: list[tuple[str, str]]
) -> str | None:
    """Replace ``size((n)-[:R]->())`` and ``COUNT { (n)-[:R]->() }``
    pattern-count expressions with placeholder columns, recording
    (placeholder, pattern) — each becomes ONE grouped count joined onto
    the match (Neo4j's degree idiom, old and new spelling)."""
    if not text:
        return text
    out = text
    changed = True
    while changed:
        changed = False
        for head in (_SIZE_HEAD, _COUNT_HEAD):
            m = None
            for cand in head.finditer(out):
                start = cand.end()
                depth = 1
                i = start
                while i < len(out) and depth:
                    if out[i] in "([{":
                        depth += 1
                    elif out[i] in ")]}":
                        depth -= 1
                    i += 1
                inner = out[start: i - 1].strip()
                if re.search(r"\)\s*(?:<-|-)\s*\[", inner):
                    m = (cand.start(), i, inner)
                    break
            if m is not None:
                col = f"__pcnt{len(specs)}"
                specs.append((col, m[2]))
                out = out[: m[0]] + col + out[m[1]:]
                changed = True
                break
    return out


# -- expression rewriting ----------------------------------------------------

_PROP_REF = re.compile(r"\b(\w+)\s*\.\s*(\w+\b|`[^`]+`)")


def _qcol(name: str):
    """Exact-name column reference: dots and other specials in a
    property name stay literal (``sigma.alert``), never struct access."""
    return F.col(f"`{name}`") if re.search(r"\W", name) else F.col(name)


def _rewrite_expr(
    expr: str, node_vars: set[str], edge_vars: set[str]
) -> tuple[str, set[tuple[str, str]]]:
    """Cypher expression → Spark SQL expression.  Returns the rewritten
    text and the set of (node_var, prop) references that need property
    joins.  Edge-variable fields stay dotted (struct access)."""
    refs: set[tuple[str, str]] = set()

    def prop(m: re.Match) -> str:
        var, p = m.group(1), m.group(2)
        # `quoted` property names (Neo4j backtick escapes, e.g.
        # p.`sigma.alert`) reference the exact column name
        quoted = p.startswith("`")
        pn = p[1:-1] if quoted else p
        if var in edge_vars:
            return f"{var}.{p}"  # struct field — Spark SQL native
        if var in node_vars:
            if pn == "key":
                return var
            refs.add((var, pn))
            helper = f"__{var}__{pn}"
            return f"`{helper}`" if re.search(r"\W", helper) else helper
        return m.group(0)  # function call like round(x, 2) — leave alone

    # protect string literals from rewriting
    chunks = re.split(r"('[^']*')", expr)
    for i in range(0, len(chunks), 2):
        c = _PROP_REF.sub(prop, chunks[i])
        c = re.sub(r"\bSTARTS\s+WITH\b", "STARTSWITH_OP", c, flags=re.I)
        c = re.sub(r"\bENDS\s+WITH\b", "ENDSWITH_OP", c, flags=re.I)
        c = re.sub(r"\bCONTAINS\b", "CONTAINS_OP", c, flags=re.I)
        chunks[i] = c
    out = "".join(chunks)
    # infix pseudo-ops → function calls: "x OP 'lit'" (rhs = literal or column)
    for op, fn in (
        ("STARTSWITH_OP", "startswith"),
        ("ENDSWITH_OP", "endswith"),
        ("CONTAINS_OP", "contains"),
    ):
        out = re.sub(
            rf"((?:\w+\([^()]*\))|[^\s()]+)\s+{op}\s+('[^']*'|\S+)",
            rf"{fn}(\1, \2)",
            out,
        )
    # Cypher list literal in IN: [1, 2] → (1, 2)
    out = re.sub(
        r"\bIN\s*\[([^\]]*)\]", lambda m: f"IN ({m.group(1)})", out, flags=re.I
    )
    # Cypher collect() → Spark collect_list(); collect(DISTINCT x) →
    # collect_set(x), with sort_array for a deterministic result order
    out = re.sub(
        r"\bcollect\s*\(\s*DISTINCT\s+([^)]+)\)",
        r"sort_array(collect_set(\1))",
        out,
        flags=re.I,
    )
    out = re.sub(r"\bcollect\s*\(", "collect_list(", out, flags=re.I)
    # Cypher scalar functions → Spark SQL equivalents (Spark accepts
    # function-style casts: bigint(x) / double(x) / string(x))
    for cy, sp in (
        ("toInteger", "bigint"),
        ("toFloat", "double"),
        ("toString", "string"),
        ("toLower", "lower"),
        ("toUpper", "upper"),
    ):
        out = re.sub(rf"\b{cy}\s*\(", f"{sp}(", out, flags=re.I)
    return out, refs


_AGG_RE = re.compile(r"\b(count|sum|min|max|avg|collect)\s*\(", re.I)


def _is_agg(expr: str) -> bool:
    """True when the expression CONTAINS an aggregate call (outside
    string literals) — ``CASE WHEN count(*) > 1 …`` or
    ``round(avg(x), 2)`` are aggregate RETURN items, not grouping
    keys, exactly as Cypher's implicit-grouping rule treats them."""
    without_strings = "".join(re.split(r"'[^']*'", expr))
    return bool(_AGG_RE.search(without_strings))


def _default_alias(expr: str) -> str:
    return re.sub(r"\W+", "_", expr.strip()).strip("_")


# -- the compiler ------------------------------------------------------------

@dataclass
class _Segment:
    """One pipeline stage: patterns + WHERE + a projection (WITH or the
    final RETURN) with its post-projection WHERE / ORDER BY / LIMIT."""

    parsed: _Parsed = field(default_factory=_Parsed)
    where: str | None = None
    proj: str | None = None
    is_return: bool = False
    post_where: str | None = None
    order: str | None = None
    skip: int | None = None
    limit: int | None = None
    unwinds: list[tuple[str, str]] = field(default_factory=list)  # (expr, var)


def _segment_clauses(clauses: list[tuple[str, str]]) -> list[_Segment]:
    segs: list[_Segment] = []
    cur = _Segment()
    for kw, body in clauses:
        if kw in ("MATCH", "OPTIONAL MATCH"):
            if cur.proj is not None:
                segs.append(cur)
                cur = _Segment()
            _parse_patterns(body, cur.parsed, kw == "OPTIONAL MATCH")
        elif kw == "WHERE":
            if cur.proj is None:
                if cur.where is not None:
                    raise ValueError("two WHERE clauses in one MATCH block")
                cur.where = body
            else:
                cur.post_where = body
        elif kw in ("WITH", "RETURN"):
            if cur.proj is not None:
                segs.append(cur)
                cur = _Segment()
            cur.proj = body
            cur.is_return = kw == "RETURN"
        elif kw == "UNWIND":
            if cur.proj is not None:
                segs.append(cur)
                cur = _Segment()
            m = re.match(r"^(.*)\s+AS\s+(\w+)\s*$", body, flags=re.I | re.S)
            if not m:
                raise ValueError(f"UNWIND needs 'expr AS var': {body!r}")
            cur.unwinds.append((m.group(1).strip(), m.group(2)))
        elif kw == "ORDER BY":
            if cur.proj is None:
                raise ValueError("ORDER BY must follow WITH or RETURN")
            cur.order = body
        elif kw == "SKIP":
            if cur.proj is None:
                raise ValueError("SKIP must follow WITH or RETURN")
            cur.skip = int(body)
        elif kw == "LIMIT":
            if cur.proj is None:
                raise ValueError("LIMIT must follow WITH or RETURN")
            cur.limit = int(body)
    if cur.proj is None:
        raise ValueError("query needs a RETURN clause")
    if not cur.is_return:
        raise ValueError("query must end with RETURN, not WITH")
    segs.append(cur)
    for s in segs[:-1]:
        if s.is_return:
            raise ValueError("RETURN must be the final clause")
    return segs


@dataclass
class _Scope:
    """What a WITH projection carries into the next segment."""

    df: DataFrame
    node_labels: dict[str, str | None] = field(default_factory=dict)
    edge_vars: set[str] = field(default_factory=set)
    path_vars: set[str] = field(default_factory=set)


def _run_segment(
    gq: GraphQuery,
    props: dict[str, DataFrame],
    seg: _Segment,
    carried: _Scope | None,
) -> _Scope:
    parsed = seg.parsed
    node_vars = {h.src for h in parsed.hops} | {h.dst for h in parsed.hops}
    node_vars |= set(parsed.single_nodes)
    for og in parsed.optionals:
        node_vars |= {h.src for h in og.hops} | {h.dst for h in og.hops}
    node_vars |= {p.src for p in parsed.paths} | {p.dst for p in parsed.paths}
    path_vars = {p.path_var for p in parsed.paths}
    edge_vars = {h.ev for h in parsed.hops if h.ev}
    for og in parsed.optionals:
        edge_vars |= {h.ev for h in og.hops if h.ev}
    carried_labels: dict[str, str | None] = {}
    if carried is not None:
        carried_labels = carried.node_labels
        node_vars |= set(carried.node_labels)
        edge_vars |= carried.edge_vars
        path_vars |= carried.path_vars

    # pattern-count expressions (size((n)-[:R]->()) / COUNT { ... })
    # become placeholder columns computed as grouped counts below
    pattern_counts: list[tuple[str, str]] = []
    seg_where = _extract_pattern_counts(seg.where, pattern_counts)
    seg_proj = _extract_pattern_counts(seg.proj, pattern_counts)

    def motif(hops: list[_Hop], labels: dict[str, str]) -> str:
        pats = []
        for h in hops:
            s_lab = f":{_bt(labels[h.src])}" if h.src in labels else ""
            d_lab = f":{_bt(labels[h.dst])}" if h.dst in labels else ""
            ev = f"{h.ev}:" if h.ev else ""
            star = f"*{h.vspec}" if h.vspec is not None else ""
            head = "" if h.undirected else ">"
            pats.append(
                f"({h.src}{s_lab})-[{ev}{_bt(h.rel)}{star}]-{head}({h.dst}{d_lab})"
            )
        return "; ".join(pats)

    df = gq.find(motif(parsed.hops, parsed.labels)) if parsed.hops else None
    for var in parsed.single_nodes:
        lab = parsed.labels.get(var)
        if lab is None:
            nd = gq.nodes.select(F.col("key").alias(var))
        else:
            nd = gq.match(lab).select(F.col("key").alias(var))
        if df is None:
            df = nd
        elif var in df.columns:
            df = df.join(nd, var, "left_semi")
        else:
            raise ValueError(
                f"single-node pattern ({var}) shares no variable with the "
                "rest of the MATCH — a cartesian product is never implicit"
            )
    for ps in parsed.paths:
        # shortestPath compiles to the ITERATIVE BFS + backtrace
        # (traversal.bfs_paths) — the documented home of unbounded
        # reach; the result rejoins the relational plan as a
        # (src, dst, path) table keyed on its endpoint variables
        from graphdb_neo4j_spark.operators.traversal import (
            bfs_paths,
            shortest_path_bidirectional,
        )

        spark = gq.edges.sparkSession
        e = gq.rel(ps.rel).select("src", "dst")
        if ps.dst_key is not None:
            # both endpoints pinned → MEET-IN-THE-MIDDLE BFS with pred
            # trees spliced at the meet frontier (~√ the one-sided
            # frontier/shuffle cost); result is a single-row table
            from pyspark.sql.types import ArrayType, StructField, StructType

            path = shortest_path_bidirectional(
                e, ps.src_key, ps.dst_key,
                max_hops=ps.hi if ps.hi is not None else 1 << 20,
            )
            key_t = e.schema["src"].dataType
            schema = StructType([
                StructField(ps.src, key_t),
                StructField(ps.dst, key_t),
                StructField(ps.path_var, ArrayType(key_t)),
            ])
            rows = (
                [(ps.src_key, ps.dst_key, path)]
                if path is not None and len(path) - 1 >= ps.lo
                else []
            )
            pdf = spark.createDataFrame(rows, schema)
        else:
            srcs = spark.createDataFrame([(ps.src_key,)], ["key"])
            pb = bfs_paths(e, srcs, targets=None, max_hops=ps.hi)
            pb = pb.filter(F.col("dist") >= ps.lo)
            pdf = pb.select(
                F.lit(ps.src_key).alias(ps.src),
                F.col("key").alias(ps.dst),
                F.col("path").alias(ps.path_var),
            )
        for var in (ps.src, ps.dst):
            lab = parsed.labels.get(var)
            if lab is not None:
                keys = gq.nodes.filter(F.col("label") == lab).select(
                    F.col("key").alias(var)
                )
                pdf = pdf.join(keys, var, "left_semi")
        if df is None:
            df = pdf
        else:
            shared = [c for c in df.columns if c in pdf.columns]
            if not shared:
                raise ValueError(
                    "shortestPath shares no variable with the rest of the "
                    "MATCH — a cartesian product is never implicit"
                )
            df = df.join(pdf, on=shared, how="inner")

    # splice the carried WITH scope in: inner join on shared variables
    if carried is not None:
        if df is None:
            df = carried.df
        else:
            shared = [c for c in df.columns if c in carried.df.columns]
            if not shared:
                raise ValueError(
                    "MATCH after WITH shares no variable with the carried "
                    "scope — a cartesian product is never implicit"
                )
            df = carried.df.join(df, on=shared, how="inner")

    for og in parsed.optionals:
        opt = gq.find(motif(og.hops, og.labels))
        # group-local inline predicates filter the OPTIONAL side BEFORE
        # the left join (Cypher semantics: a non-matching optional row
        # NULL-extends, it does not kill the outer row).  Property refs
        # join the label's table onto the optional side only.
        og_refs: set[tuple[str, str]] = set()
        og_sql = []
        for pred in og.preds:
            out, refs = _rewrite_expr(pred, node_vars, edge_vars)
            og_refs.update(refs)
            og_sql.append(out)
        helper_cols = []
        og_by_var: dict[str, set[str]] = {}
        for var, p in og_refs:
            og_by_var.setdefault(var, set()).add(p)
        for var, wanted in og_by_var.items():
            lab = og.labels.get(var) or parsed.labels.get(var)
            if lab is None:
                raise ValueError(
                    f"{var}: label the variable to use its properties "
                    "in an OPTIONAL MATCH property map"
                )
            if lab not in props:
                raise ValueError(
                    f"no property table for label {lab!r} — pass "
                    f"props={{{lab!r}: df}}"
                )
            sel = props[lab].select(
                F.col("key").alias(var),
                *[_qcol(p).alias(f"__{var}__{p}") for p in sorted(wanted)],
            )
            helper_cols.extend(f"__{var}__{p}" for p in sorted(wanted))
            opt = opt.join(sel, var, "inner")
        for s in og_sql:
            opt = opt.filter(F.expr(s))
        if helper_cols:
            opt = opt.drop(*helper_cols)
        shared = [c for c in df.columns if c in opt.columns]
        if not shared:
            raise ValueError(
                "OPTIONAL MATCH shares no variable with the MATCH"
            )
        df = df.join(opt, on=shared, how="left")

    for idx, (cname, pat) in enumerate(pattern_counts):
        sub = _Parsed()
        _parse_patterns(pat, sub, into_optional=False)
        if sub.paths or sub.single_nodes or not sub.hops:
            raise ValueError(
                "pattern counts support relationship patterns only"
            )
        # keep the count pattern's anonymous vars from colliding with
        # the outer MATCH's (both parsers number them __anon1, ...)
        ren = {}
        for h in sub.hops:
            for v in (h.src, h.dst):
                if v.startswith("__anon"):
                    ren[v] = f"__pc{idx}{v}"
        sub.hops = [
            _Hop(ren.get(h.src, h.src), h.rel, ren.get(h.dst, h.dst),
                 h.ev, h.vspec, h.undirected)
            for h in sub.hops
        ]
        sub.labels = {ren.get(v, v): l for v, l in sub.labels.items()}
        sdf = gq.find(motif(sub.hops, sub.labels))
        shared = [c for c in df.columns if c in sdf.columns]
        if not shared:
            raise ValueError(
                "pattern count shares no variable with the MATCH"
            )
        cdf = sdf.groupBy(*shared).agg(F.count("*").alias(cname))
        df = df.join(cdf, on=shared, how="left").withColumn(
            cname, F.coalesce(F.col(cname), F.lit(0)).cast("bigint")
        )

    # gather every expression we must compile, collecting property refs
    all_refs: set[tuple[str, str]] = set()

    def compile_expr(e: str) -> str:
        out, refs = _rewrite_expr(e, node_vars, edge_vars)
        # Cypher length(path) = relationship count = node count - 1
        for pv in path_vars:
            out = re.sub(
                rf"\blength\s*\(\s*{pv}\s*\)", f"(size({pv}) - 1)", out,
                flags=re.I,
            )
        all_refs.update(refs)
        return out

    inline_sql = [compile_expr(p) for p in parsed.inline_preds]
    # WHERE: lift EXISTS / NOT EXISTS subpatterns AND bare pattern
    # predicates (Neo4j's classic ``WHERE NOT (p)-[:R]->()`` idiom,
    # the pre-EXISTS spelling) out of the top-level AND conjuncts —
    # each becomes a semi/anti join; the rest stays a boolean filter
    where_plain: list[str] = []
    exists_joins: list[tuple[_Parsed, bool]] = []
    has_pattern_pred = bool(
        seg_where
        and (
            re.search(r"\bEXISTS\b", seg_where, flags=re.I)
            or re.search(r"\)\s*(?:<-|-)\s*\[", seg_where)
        )
    )
    if seg_where and not has_pattern_pred:
        where_plain.append(seg_where)  # untouched — no re-parenthesizing
    elif seg_where:
        if _has_top_level_or(seg_where):
            raise ValueError(
                "EXISTS must be a top-level AND conjunct "
                "(OR over EXISTS is not supported)"
            )
        for conj in _split_top_and(seg_where):
            m = _EXISTS_RE.match(conj.strip())
            bp = None if m else _BARE_PAT_RE.match(conj.strip())
            if bp:
                sub = _Parsed()
                _parse_patterns(bp["pat"].strip(), sub, into_optional=False)
                if sub.paths or sub.single_nodes:
                    raise ValueError(
                        "pattern predicates support relationship "
                        "patterns only"
                    )
                exists_joins.append((sub, bool(bp["neg"])))
                continue
            if m:
                pat = (m["pat"] or m["pat2"] or "").strip()
                neg = bool(m["neg"] or m["neg2"])
                # optional trailing WHERE inside the braces — Cypher's
                # correlated existential subquery form:
                #   EXISTS { (p)-[:R]->(x:L) WHERE x.prop = v }
                wm = re.search(r"\bWHERE\b", pat, flags=re.I)
                inner_where = None
                if wm:
                    pat, inner_where = (
                        pat[: wm.start()].strip(),
                        pat[wm.end():].strip(),
                    )
                sub = _Parsed()
                _parse_patterns(pat, sub, into_optional=False)
                if sub.paths or sub.single_nodes:
                    raise ValueError(
                        "EXISTS supports relationship patterns only"
                    )
                if inner_where:
                    sub.inline_preds.extend(
                        f"({c})" for c in _split_top_and(inner_where)
                    )
                exists_joins.append((sub, neg))
            elif re.search(r"\bEXISTS\b", conj, flags=re.I):
                raise ValueError(
                    "EXISTS must be a top-level AND conjunct "
                    "(OR over EXISTS is not supported)"
                )
            else:
                where_plain.append(conj)
    # UNWIND list AS var — a map-side explode; nodes(p) unwraps a bound
    # path's key array
    unwind_sql: list[tuple[str, str]] = []
    for uexpr, uvar in seg.unwinds:
        txt = uexpr
        for pv in path_vars:
            txt = re.sub(
                rf"\bnodes\s*\(\s*{pv}\s*\)", pv, txt, flags=re.I
            )
        unwind_sql.append((compile_expr(txt), uvar))
    where_compiled = (
        compile_expr(" AND ".join(f"({c})" for c in where_plain))
        if where_plain
        else None
    )

    distinct = False
    rb = seg_proj.strip()
    if rb.upper().startswith("DISTINCT"):
        distinct = True
        rb = rb[len("DISTINCT"):].strip()
    items: list[tuple[str, str, str, bool]] = []  # (raw, sql, alias, is_agg)
    for item in _split_top_commas(rb):
        m = re.search(r"\s+AS\s+(\w+)\s*$", item, flags=re.I)
        if m:
            expr_txt, alias = item[: m.start()].strip(), m.group(1)
        else:
            expr_txt = item.strip()
            alias = (
                expr_txt
                if re.fullmatch(r"\w+", expr_txt)
                else _default_alias(expr_txt)
            )
        items.append(
            (expr_txt, compile_expr(expr_txt), alias, _is_agg(expr_txt))
        )

    order_items: list[tuple[str, bool]] = []
    if seg.order:
        for item in _split_top_commas(seg.order):
            desc = bool(re.search(r"\s+DESC\s*$", item, flags=re.I))
            item = re.sub(r"\s+(ASC|DESC)\s*$", "", item, flags=re.I)
            order_items.append((compile_expr(item), desc))
    post_where_compiled = (
        compile_expr(seg.post_where) if seg.post_where else None
    )

    # property joins — only the (var, prop) pairs actually referenced;
    # each is ONE key join against the label's property table (broadcast
    # when small), projecting just the needed columns
    by_var: dict[str, set[str]] = {}
    for var, p in all_refs:
        by_var.setdefault(var, set()).add(p)
    for var, wanted in by_var.items():
        lab = parsed.labels.get(var) or carried_labels.get(var)
        if lab is None:
            for og in parsed.optionals:
                lab = og.labels.get(var)
                if lab is not None:
                    break
        if lab is None:
            raise ValueError(
                f"{var}.{next(iter(wanted))}: {var!r} has no label, so its "
                "property table is unknown — label the variable"
            )
        if lab not in props:
            raise ValueError(
                f"{var}.{next(iter(wanted))}: no property table for label "
                f"{lab!r} — pass props={{{lab!r}: df}}"
            )
        pt = props[lab]
        missing = wanted - set(pt.columns)
        if missing:
            raise ValueError(f"label {lab!r} has no properties {sorted(missing)}")
        sel = pt.select(
            F.col("key").alias(var),
            *[_qcol(p).alias(f"__{var}__{p}") for p in sorted(wanted)],
        )
        opt_vars = set()
        for og in parsed.optionals:
            opt_vars |= {h.src for h in og.hops} | {h.dst for h in og.hops}
        main_vars = {h.src for h in parsed.hops} | {h.dst for h in parsed.hops}
        how = (
            "left"
            if (var in opt_vars and var not in main_vars
                and var not in parsed.labels)
            else "inner"
        )
        df = df.join(sel, var, how)

    for sql, uvar in unwind_sql:
        df = df.withColumn(uvar, F.explode(F.expr(sql)))
    for p in inline_sql:
        df = df.filter(F.expr(p))
    if where_compiled:
        df = df.filter(F.expr(where_compiled))
    for sub, neg in exists_joins:
        sdf = gq.find(motif(sub.hops, sub.labels))
        # property predicates inside EXISTS (inline props or the inner
        # WHERE) join the label's property table onto the EXISTS side
        # only — the existence test is property-filtered BEFORE the
        # semi/anti join, never leaking columns into the outer scope
        ex_node_vars = (
            node_vars
            | {h.src for h in sub.hops}
            | {h.dst for h in sub.hops}
        )
        ex_refs: set[tuple[str, str]] = set()
        ex_sql: list[str] = []
        for p in sub.inline_preds:
            out, refs = _rewrite_expr(p, ex_node_vars, edge_vars)
            ex_refs.update(refs)
            ex_sql.append(out)
        ex_by_var: dict[str, set[str]] = {}
        for var, p in ex_refs:
            ex_by_var.setdefault(var, set()).add(p)
        ex_helpers: list[str] = []
        for var, wanted in ex_by_var.items():
            lab = sub.labels.get(var) or parsed.labels.get(var)
            if lab is None:
                raise ValueError(
                    f"{var}: label the variable to use its properties "
                    "inside EXISTS"
                )
            if lab not in props:
                raise ValueError(
                    f"no property table for label {lab!r} — pass "
                    f"props={{{lab!r}: df}}"
                )
            sel = props[lab].select(
                F.col("key").alias(var),
                *[_qcol(p).alias(f"__{var}__{p}") for p in sorted(wanted)],
            )
            ex_helpers.extend(f"__{var}__{p}" for p in sorted(wanted))
            sdf = sdf.join(sel, var, "inner")
        for s in ex_sql:
            sdf = sdf.filter(F.expr(s))
        if ex_helpers:
            sdf = sdf.drop(*ex_helpers)
        shared = [c for c in df.columns if c in sdf.columns]
        if not shared:
            raise ValueError(
                "EXISTS pattern shares no variable with the MATCH"
            )
        df = df.join(
            sdf.select(*shared).distinct(),
            on=shared,
            how="left_anti" if neg else "left_semi",
        )

    aggs = [it for it in items if it[3]]
    if aggs:
        keys = [F.expr(sql).alias(a) for _, sql, a, is_a in items if not is_a]
        agg_cols = [F.expr(sql).alias(a) for _, sql, a, is_a in items if is_a]
        if keys:
            df = df.groupBy(*keys).agg(*agg_cols)
        else:
            df = df.agg(*agg_cols)
        df = df.select(*[a for _, _, a, _ in items])
    else:
        df = df.select(*[F.expr(sql).alias(a) for _, sql, a, _ in items])
        if distinct:
            df = df.distinct()
    if post_where_compiled:
        df = df.filter(F.expr(post_where_compiled))
    if order_items:
        df = df.orderBy(
            *[
                F.expr(sql).desc() if desc else F.expr(sql)
                for sql, desc in order_items
            ]
        )
    if seg.skip is not None:
        df = df.offset(seg.skip)
    if seg.limit is not None:
        df = df.limit(seg.limit)

    # what flows into the next segment: bare-variable items keep their
    # kind (node var with label / edge struct / path array)
    out = _Scope(df=df)
    all_labels: dict[str, str | None] = {}
    all_labels.update(carried_labels)
    all_labels.update(parsed.labels)
    for og in parsed.optionals:
        all_labels.update(og.labels)
    for raw, _, alias, _ in items:
        if re.fullmatch(r"\w+", raw):
            if raw in path_vars:
                out.path_vars.add(alias)
            elif raw in edge_vars:
                out.edge_vars.add(alias)
            elif raw in node_vars:
                out.node_labels[alias] = all_labels.get(raw)
    return out


def _split_union(q: str) -> tuple[list[str], bool]:
    """Split on top-level ``UNION [ALL]`` (outside quotes and all
    brackets).  Returns (parts, is_union_all).  Neo4j forbids mixing
    UNION and UNION ALL in one query; so do we."""
    upper = q.upper()
    parts: list[str] = []
    kinds: list[bool] = []  # True = ALL
    depth = 0
    in_str = False
    start = 0
    i = 0
    while i < len(q):
        ch = q[i]
        if ch == "'":
            in_str = not in_str
        elif not in_str and ch in "({[":
            depth += 1
        elif not in_str and ch in ")}]":
            depth -= 1
        if (
            not in_str
            and depth == 0
            and upper.startswith("UNION", i)
            and (i == 0 or not upper[i - 1].isalnum())
            and (i + 5 >= len(upper) or not upper[i + 5].isalnum())
        ):
            parts.append(q[start:i])
            rest = upper[i + 5:].lstrip()
            is_all = rest.startswith("ALL") and (
                len(rest) == 3 or not rest[3].isalnum()
            )
            kinds.append(is_all)
            i += 5
            if is_all:
                i = upper.index("ALL", i) + 3
            start = i
            continue
        i += 1
    parts.append(q[start:])
    if kinds and len(set(kinds)) > 1:
        raise ValueError("cannot mix UNION and UNION ALL in one query")
    return parts, bool(kinds and kinds[0])


def cypher(
    gq: GraphQuery,
    query: str,
    props: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Compile a Cypher read query (see module docstring for the
    subset) against a :class:`GraphQuery` and return the DataFrame.

    ``props`` maps node label → property DataFrame keyed by ``key``
    (e.g. ``{"Process": g.process}``); it is only required when the
    query dereferences ``var.prop`` on that label.

    ``WITH`` pipelines compile to nested plans: each segment projects
    (aggregating if any item aggregates), the optional post-``WITH``
    ``WHERE`` filters the projection (Cypher's HAVING), and the next
    segment's patterns re-join the carried scope on shared variables —
    all still one Catalyst plan, so the optimizer sees through the
    whole pipeline.

    Top-level ``UNION`` / ``UNION ALL`` combine full queries: each arm
    compiles independently, arms must return the same column names
    (Neo4j's rule), ``UNION ALL`` is a bag union (``unionByName``) and
    ``UNION`` adds one global distinct — both still a single plan, so
    Catalyst can pick partial-dedup / exchange-reuse strategies."""
    q = query.strip().rstrip(";")
    m = re.match(r"^CALL\s*\{", q, flags=re.I)
    if m:
        # CALL { subquery } <pipeline>: compile the subquery (which may
        # itself be a UNION) and feed its rows into the remaining
        # clauses as the carried scope — Neo4j's post-UNION-processing
        # idiom.  Carried columns flow as unlabeled variables; re-label
        # (re-MATCH) before dereferencing properties on them.
        depth = 0
        in_str = False
        close = None
        for i in range(m.end() - 1, len(q)):
            ch = q[i]
            if ch == "'":
                in_str = not in_str
            elif not in_str and ch == "{":
                depth += 1
            elif not in_str and ch == "}":
                depth -= 1
                if depth == 0:
                    close = i
                    break
        if close is None:
            raise ValueError("CALL { … }: unbalanced braces")
        inner = q[m.end(): close].strip()
        rest = q[close + 1:].strip()
        if not rest:
            raise ValueError("CALL { … } must be followed by a pipeline "
                             "ending in RETURN")
        inner_df = cypher(gq, inner, props)
        scope = _Scope(
            df=inner_df,
            node_labels={c: None for c in inner_df.columns},
        )
        for seg in _segment_clauses(_split_clauses(rest)):
            scope = _run_segment(gq, props or {}, seg, scope)
        return scope.df
    arms, is_all = _split_union(q)
    if len(arms) > 1:
        dfs = [cypher(gq, arm, props) for arm in arms]
        cols0 = set(dfs[0].columns)
        for d in dfs[1:]:
            if set(d.columns) != cols0:
                raise ValueError(
                    "UNION arms must return the same column names: "
                    f"{sorted(cols0)} vs {sorted(d.columns)}"
                )
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out if is_all else out.distinct()
    segments = _segment_clauses(_split_clauses(q))
    first = segments[0].parsed
    if not first.hops and not first.single_nodes and not first.paths:
        raise ValueError("query needs at least one MATCH pattern")
    scope: _Scope | None = None
    for seg in segments:
        scope = _run_segment(gq, props or {}, seg, scope)
    return scope.df
