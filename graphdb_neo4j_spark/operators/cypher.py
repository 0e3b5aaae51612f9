"""Cypher front-end — the reference's ACTUAL analyst language, lowered
to one Spark SQL statement per query.

The reference's deliverable is "open Neo4j Browser and run Cypher"
(/root/reference/main.py:19).  `GraphQuery` re-expresses that surface as
combinators; this module closes the last gap for a migrating analyst by
accepting the Cypher TEXT itself for the read-query subset the
reference's schema implies:

    MATCH (a:Process {image: 'powershell.exe'})-[:SPAWNS*1..3]->(b),
          (b)-[:CONNECTED_TO]->(ip:Ip)
    WHERE ip.key STARTS WITH '10.' AND b <> a
    OPTIONAL MATCH (b)-[:CREATED_FILE]->(f:File)
    RETURN a AS root, b, ip.key AS addr, count(f) AS n_files
    ORDER BY n_files DESC, root LIMIT 10

Supported subset (every construct maps to a relational plan — nothing
is interpreted row-by-row):

* ``MATCH`` with comma-separated patterns; chains
  ``(a)-[:R]->(b)-[:S]->(c)``; reverse arrows ``<-[:R]-``; UNDIRECTED
  relationships ``(a)-[:R]-(b)`` (both traversal directions, one row
  per binding, self-loops once); node labels ``(a:Label)``; inline
  property maps ``{p: lit}``; edge variables ``[e:R]``; bounded
  variable-length ``[:R*lo..hi]`` (unbounded ``*`` is rejected —
  open-ended reach is `traversal.bfs`, not a join chain); single-node
  patterns ``MATCH (n:Label)``.
* any number of ``OPTIONAL MATCH`` groups, each with its own inline
  maps and its own ``WHERE``: both restrict the OPTIONAL side only (a
  non-matching optional row NULL-extends; it never kills the outer
  row), exactly Cypher's scoping — a ``WHERE`` belongs to the clause
  it follows.
* ``WHERE`` — any Spark-SQL-expressible boolean over node variables
  (``a`` = the node key), node properties (``a.prop``, resolved through
  the per-label property tables), and edge-variable fields
  (``e.event_id``); Cypher spellings ``STARTS WITH`` / ``ENDS WITH`` /
  ``CONTAINS`` / ``<>`` / ``IN [..]`` are rewritten to their SQL
  equivalents; ``EXISTS {(a)-[:R]->(b)}`` / ``NOT EXISTS (…)`` and bare
  pattern predicates ``[NOT] (p)-[:R]->(x)`` at top-level AND conjuncts
  lower to semi/anti joins — including the correlated property-filtered
  forms ``EXISTS { (a)-[:R]->(x:L {prop: v}) }`` and ``EXISTS {
  (a)-[:R]->(x:L) WHERE x.prop > v }``.
* ``RETURN [DISTINCT]`` items with ``AS`` aliases; aggregates
  count/sum/min/max/avg/collect with Cypher's implicit grouping (all
  non-aggregate items become the GROUP BY key).
* ``ORDER BY`` on returned columns, ``SKIP``, ``LIMIT`` (a
  totally-ordered limit plans as TakeOrderedAndProject — no global
  sort).
* ``WITH`` pipelines: project/aggregate mid-query, ``WITH ... WHERE``
  (Cypher's HAVING), ``ORDER BY``/``LIMIT`` midstream, then MATCH again
  from the carried variables.
* ``shortestPath((a {key:'x'})-[:REL*]->(b))`` — pinned source, pinned
  or free destination; runs the iterative BFS + deterministic
  backtrace of operators/traversal.py (the one construct that is not a
  join chain), and ``length(p)`` works on the bound path.
* ``UNWIND list AS var`` (``nodes(p)`` unwraps a bound path's key
  array).
* pattern counts ``size((n)-[:R]->())`` and ``COUNT { (n)-[:R]->() }``
  anywhere in WHERE / RETURN, composable with arithmetic and
  aggregates.
* top-level ``UNION`` / ``UNION ALL`` and ``CALL { subquery }``
  post-union pipelines.
* backtick escapes throughout: property names (``p.`sigma.alert```,
  exact column name, dots literal) and labels / relationship types
  (``(a:`My Label`)-[:`HAS PART`]->(b)`` — data values once unquoted).

Lowering: :func:`cypher` turns the parsed query into ONE SQL text and
runs it with a single ``spark.sql(text, args=…, **frames)``.  Hops,
labels and variable-length unions come from the motif lowering of
operators/graph.py (:func:`_pattern`), so each hop is a key equi-join
Catalyst/AQE may broadcast or bucket and each label a semi-join against
the pruned node table; ``a.prop`` is one join per variable against its
label's property table, for the properties the query touches, as the
column `` `a.prop` ``; each OPTIONAL MATCH is a ``LEFT JOIN (…) ON`` its
shared variables; EXISTS and pattern predicates are ``LEFT SEMI`` /
``LEFT ANTI`` joins; a pattern count is a grouped ``LEFT JOIN`` wrapped
in ``coalesce(…, 0)``; each ``WITH`` / ``CALL {}`` stage is a CTE;
``UNWIND`` is ``LATERAL VIEW explode``.  String literals, labels and
relationship types go in as named parameters, never into the text; the
graph tables (and a ``shortestPath``'s rows) go in as frame arguments.
"""

from __future__ import annotations

import itertools
import re
from collections.abc import Iterator
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from graphdb_neo4j_spark.operators.graph import (
    GraphQuery,
    _Hop,
    _join,
    _labeled,
    _parse_varlen,
    _pattern,
    _q,
    _Rel,
    _Sql,
    _unq,
)


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
    """One OPTIONAL MATCH clause: its hops, labels, inline-map predicates
    and its own WHERE — all of which restrict the optional side only."""

    hops: list[_Hop] = field(default_factory=list)
    labels: dict[str, str] = field(default_factory=dict)
    preds: list[str] = field(default_factory=list)
    where: str | None = None


@dataclass
class _Parsed:
    hops: list[_Hop] = field(default_factory=list)
    single_nodes: list[str] = field(default_factory=list)  # vars with no hop
    labels: dict[str, str] = field(default_factory=dict)
    inline_preds: list[str] = field(default_factory=list)  # Cypher predicates
    optionals: list[_OptGroup] = field(default_factory=list)
    paths: list[_ShortestPath] = field(default_factory=list)


def _parse_patterns(
    body: str, parsed: _Parsed, into_optional: bool, anon: Iterator[int]
) -> None:
    """Parse comma-separated patterns into ``parsed`` (or a new OPTIONAL
    group).  ``anon`` numbers anonymous variables across the whole
    query, so two patterns (a MATCH and an EXISTS, or two MATCH
    clauses) never share one by accident."""
    group = _OptGroup() if into_optional else None
    hops = group.hops if group is not None else parsed.hops
    labels = group.labels if group is not None else parsed.labels
    preds = group.preds if group is not None else parsed.inline_preds

    def node(m: re.Match) -> str:
        var = m["var"] or f"__anon{next(anon)}"
        if m["label"]:
            lab = _unq(m["label"])
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
                    ev = ev or f"__eanon{next(anon)}"
                    for kv in _split_top_commas(einner):
                        k, sep, v = kv.partition(":")
                        if not sep:
                            raise ValueError(f"bad property map entry {kv!r}")
                        preds.append(f"{ev}.{k.strip()} = {v.strip()}")
            rel, span = _unq(em["rel"]), _parse_varlen(vspec, pat)
            if em["back"]:
                hops.append(_Hop(nxt, rel, prev, ev, span))
            else:
                hops.append(_Hop(prev, rel, nxt, ev, span, undirected))
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
    Unbounded reach is legal HERE (it runs the iterative BFS in
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
            lab = _unq(m["label"])
            if labels.get(var, lab) != lab:
                raise ValueError(f"conflicting labels for {var!r}")
            labels[var] = lab
    src_key = _key_pin(m1["props"])
    if src_key is None:
        raise ValueError(
            "shortestPath source must be pinned: ({var} {key: 'literal'})"
        )
    return _ShortestPath(
        path_var=sp["pv"], src=src, src_key=src_key, rel=_unq(em["rel"]),
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
    pattern-count expressions with ``coalesce(col, 0)`` of a placeholder
    column, recording (column, pattern) — each becomes ONE grouped count
    left-joined onto the match (Neo4j's degree idiom, old and new
    spelling)."""
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
                out = out[: m[0]] + f"coalesce({col}, 0)" + out[m[1]:]
                changed = True
                break
    return out



# -- expression rewriting ----------------------------------------------------

_PROP_REF = re.compile(r"\b(\w+)\s*\.\s*(\w+\b|`[^`]+`)")
_STRING = re.compile(r"'[^']*'|\"[^\"]*\"")
_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", "b": "\b", "0": "\0"}


def _rewrite_expr(
    expr: str, node_vars: set[str], edge_vars: set[str], path_vars: set[str],
    param,
) -> tuple[str, set[tuple[str, str]]]:
    """Cypher expression → Spark SQL expression text (braces doubled for
    the frame formatter).  String literals become named parameters
    (``param(value)`` → ``:pN``); ``v.prop`` on a node variable becomes
    the column `` `v.prop` `` and is returned among the (var, prop) refs
    that need property joins (``v.key`` is ``v`` itself); edge-variable
    fields stay struct access; ``length(p)`` of a path is its node
    count − 1."""
    refs: set[tuple[str, str]] = set()

    def lit(m: re.Match) -> str:
        return param(re.sub(r"\\(.)", lambda e: _ESCAPES.get(e[1], e[1]), m[0][1:-1]))

    def prop(m: re.Match) -> str:
        var, p = m.group(1), m.group(2)
        pn = p[1:-1] if p.startswith("`") else p
        if var in edge_vars:
            return f"{var}.{p}"  # struct field — Spark SQL native
        if var in node_vars:
            if pn == "key":
                return var
            refs.add((var, pn))
            return f"`{var}.{pn}`"
        return m.group(0)  # function call like round(x, 2) — leave alone

    out = _PROP_REF.sub(prop, _STRING.sub(lit, expr))
    out = re.sub(r"\bSTARTS\s+WITH\b", "STARTSWITH_OP", out, flags=re.I)
    out = re.sub(r"\bENDS\s+WITH\b", "ENDSWITH_OP", out, flags=re.I)
    out = re.sub(r"\bCONTAINS\b", "CONTAINS_OP", out, flags=re.I)
    # infix pseudo-ops → function calls: "x OP rhs"
    for op, fn in (
        ("STARTSWITH_OP", "startswith"),
        ("ENDSWITH_OP", "endswith"),
        ("CONTAINS_OP", "contains"),
    ):
        out = re.sub(
            rf"((?:\w+\([^()]*\))|[^\s()]+)\s+{op}\s+(\S+)", rf"{fn}(\1, \2)", out
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
    # Cypher length(path) = relationship count = node count - 1
    for pv in path_vars:
        out = re.sub(rf"\blength\s*\(\s*{pv}\s*\)", f"(size({pv}) - 1)", out, flags=re.I)
    return out.replace("{", "{{").replace("}", "}}"), refs


def _names(sql: str) -> set[str]:
    """The bare identifiers a SQL expression names — not function calls,
    struct fields, parameters or backticked columns."""
    return set(re.findall(
        r"(?<![\w.:`])([A-Za-z_]\w*)\b(?!\s*\()", re.sub(r"`[^`]*`", "``", sql)
    ))


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


# -- the lowering --------------------------------------------------------------

@dataclass
class _Segment:
    """One pipeline stage: patterns + WHERE + a projection (WITH or the
    final RETURN) with its post-projection WHERE / ORDER BY / LIMIT."""

    parsed: _Parsed = field(default_factory=_Parsed)
    where: list[str] = field(default_factory=list)  # one per MATCH clause
    proj: str | None = None
    is_return: bool = False
    post_where: str | None = None
    order: str | None = None
    skip: int | None = None
    limit: int | None = None
    unwinds: list[tuple[str, str]] = field(default_factory=list)  # (expr, var)


def _segment_clauses(
    clauses: list[tuple[str, str]], anon: Iterator[int]
) -> list[_Segment]:
    segs: list[_Segment] = []
    cur = _Segment()
    last = None  # the pattern clause a following WHERE belongs to
    for kw, body in clauses:
        if kw in ("MATCH", "OPTIONAL MATCH"):
            if cur.proj is not None:
                segs.append(cur)
                cur = _Segment()
            _parse_patterns(body, cur.parsed, kw == "OPTIONAL MATCH", anon)
            last = kw
        elif kw == "WHERE":
            if cur.proj is not None:
                cur.post_where = body
            elif last == "OPTIONAL MATCH":
                og = cur.parsed.optionals[-1]
                if og.where is not None:
                    raise ValueError("two WHERE clauses after one OPTIONAL MATCH")
                og.where = body
            else:
                cur.where.append(body)
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
    """What a WITH projection carries into the next segment: its rows
    and the kinds of its bare-variable columns."""

    rel: _Rel
    node_labels: dict[str, str | None] = field(default_factory=dict)
    edge_vars: set[str] = field(default_factory=set)
    path_vars: set[str] = field(default_factory=set)


@dataclass
class _Sub:
    """A subpattern joined onto a segment's rows — an OPTIONAL MATCH
    group, an EXISTS / pattern predicate or a pattern count.  Its
    predicates are SQL text: ``inner`` ones name only the subpattern's
    own variables and filter it before the join (with the property
    joins ``inner_refs`` inside it); ``on`` ones name outer variables
    too and join the ON clause."""

    hops: list[_Hop]
    labels: dict[str, str]
    inner: list[str] = field(default_factory=list)
    inner_refs: dict[str, set[str]] = field(default_factory=dict)
    on: list[str] = field(default_factory=list)


def _add_refs(into: dict[str, set[str]], refs) -> None:
    for var, p in refs:
        into.setdefault(var, set()).add(p)


def _conjuncts(where: str) -> list[str]:
    """Top-level AND conjuncts; the whole expression when a top-level OR
    would make the split change its meaning."""
    return [where] if _has_top_level_or(where) else _split_top_and(where)


_PATTERN_PRED = re.compile(r"\bEXISTS\b|\)\s*(?:<-|-)\s*\[", re.I)


class _Lowering:
    """Lowers one Cypher read (its segments, OPTIONAL groups, shortest
    paths, UNION arms and CALL subqueries) to one SQL statement: each
    WITH / CALL stage becomes a CTE and the last stage the body."""

    def __init__(self, gq: GraphQuery, props: dict[str, DataFrame]):
        self.gq, self.props = gq, props
        self.sql = _Sql(gq.edges.sparkSession)
        self.ctes: list[str] = []
        self.anon = itertools.count(1)

    def statement(self, query: str) -> str:
        body = self.query(query).rel.text
        return (f"WITH {', '.join(self.ctes)} " if self.ctes else "") + body

    def query(self, q: str) -> _Scope:
        q = q.strip().rstrip(";")
        m = re.match(r"^CALL\s*\{", q, flags=re.I)
        if m:
            # CALL { subquery } <pipeline>: the subquery (which may itself
            # be a UNION) feeds its rows into the remaining clauses as the
            # carried scope — Neo4j's post-UNION-processing idiom.  Carried
            # columns flow as unlabeled variables; re-label (re-MATCH)
            # before dereferencing properties on them.
            depth, in_str, close = 0, False, None
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
            rest = q[close + 1:].strip()
            if not rest:
                raise ValueError("CALL { … } must be followed by a pipeline "
                                 "ending in RETURN")
            inner = self.query(q[m.end(): close]).rel
            scope = _Scope(inner, {c: None for c in inner.cols})
            segments = _segment_clauses(_split_clauses(rest), self.anon)
            return self.pipeline(segments, scope)
        arms, is_all = _split_union(q)
        if len(arms) > 1:
            # arms aligned by column name: each is re-projected in the
            # first arm's column order
            rels = [self.query(arm).rel for arm in arms]
            cols = rels[0].cols
            for r in rels[1:]:
                if set(r.cols) != set(cols):
                    raise ValueError(
                        "UNION arms must return the same column names: "
                        f"{sorted(cols)} vs {sorted(r.cols)}"
                    )
            sel = ", ".join(map(_q, cols))
            text = (" UNION ALL " if is_all else " UNION ").join(
                f"SELECT {sel} FROM ({r.text}) {self.sql.alias()}" for r in rels
            )
            return _Scope(_Rel(text, cols))
        segments = _segment_clauses(_split_clauses(q), self.anon)
        first = segments[0].parsed
        if not first.hops and not first.single_nodes and not first.paths:
            raise ValueError("query needs at least one MATCH pattern")
        return self.pipeline(segments, None)

    def pipeline(self, segments: list[_Segment], scope: _Scope | None) -> _Scope:
        for seg in segments:
            if scope is not None:  # the carried stage becomes a CTE
                name = f"__s{len(self.ctes)}"
                self.ctes.append(f"{name} AS ({scope.rel.text})")
                scope.rel = _Rel(f"SELECT * FROM {name}", scope.rel.cols)
            scope = self.segment(seg, scope)
        return scope

    # -- one segment ---------------------------------------------------------

    def segment(self, seg: _Segment, carried: _Scope | None) -> _Scope:
        p = seg.parsed
        carried = carried or _Scope(_Rel("", []))
        labels: dict[str, str | None] = dict(carried.node_labels)
        labels.update(p.labels)
        for og in p.optionals:
            labels.update({v: l for v, l in og.labels.items() if v not in labels})
        node_vars = set(carried.node_labels) | set(p.single_nodes)
        for hops in [p.hops] + [og.hops for og in p.optionals]:
            node_vars |= {v for h in hops for v in (h.src, h.dst)}
        node_vars |= {v for ps in p.paths for v in (ps.src, ps.dst)}
        edge_vars = set(carried.edge_vars) | {
            h.ev for hops in [p.hops] + [og.hops for og in p.optionals]
            for h in hops if h.ev
        }
        path_vars = set(carried.path_vars) | {ps.path_var for ps in p.paths}
        known = node_vars | edge_vars | path_vars | set(carried.rel.cols)
        refs: dict[str, set[str]] = {}  # properties read outside subpatterns

        def rewrite(text: str, own: set[str] = frozenset()):
            return _rewrite_expr(
                text, node_vars | own, edge_vars, path_vars, self.sql.param
            )

        def expr(text: str) -> str:
            out, r = rewrite(text)
            _add_refs(refs, r)
            return out

        def sub(hops, sub_labels, preds) -> _Sub:
            own = {v for h in hops for v in (h.src, h.dst, h.ev) if v}
            s = _Sub(hops, sub_labels)
            for pred in preds:
                out, r = rewrite(pred, own)
                inner = (_names(out) & (known | own)) | {v for v, _ in r} <= own
                (s.inner if inner else s.on).append(out)
                _add_refs(s.inner_refs if inner else refs, r)
            return s

        # pattern counts become grouped-count columns; WHERE's EXISTS and
        # bare pattern conjuncts become semi/anti joins
        counts: list[tuple[str, str]] = []
        wheres = [_extract_pattern_counts(w, counts) for w in seg.where]
        proj = _extract_pattern_counts(seg.proj, counts)
        conds = [expr(pr) for pr in p.inline_preds]
        exists: list[tuple[_Sub, bool]] = []
        for w in wheres:
            if not _PATTERN_PRED.search(w):
                conds.append(expr(w))
                continue
            if _has_top_level_or(w):
                raise ValueError(
                    "EXISTS must be a top-level AND conjunct "
                    "(OR over EXISTS is not supported)"
                )
            for conj in _split_top_and(w):
                m = _EXISTS_RE.match(conj.strip())
                bp = None if m else _BARE_PAT_RE.match(conj.strip())
                if m or bp:
                    pat = (bp["pat"] if bp else (m["pat"] or m["pat2"])).strip()
                    neg = bool(bp["neg"] if bp else (m["neg"] or m["neg2"]))
                    # optional trailing WHERE inside the braces — Cypher's
                    # correlated existential subquery form:
                    #   EXISTS { (p)-[:R]->(x:L) WHERE x.prop = v }
                    wm = None if bp else re.search(r"\bWHERE\b", pat, flags=re.I)
                    inner = []
                    if wm:
                        pat, inner = pat[: wm.start()].strip(), _conjuncts(pat[wm.end():])
                    sp = _Parsed()
                    _parse_patterns(pat, sp, False, self.anon)
                    if sp.paths or sp.single_nodes:
                        raise ValueError(
                            "EXISTS and pattern predicates support relationship "
                            "patterns only"
                        )
                    exists.append((sub(sp.hops, sp.labels, sp.inline_preds + inner), neg))
                elif re.search(r"\bEXISTS\b", conj, flags=re.I):
                    raise ValueError(
                        "EXISTS must be a top-level AND conjunct "
                        "(OR over EXISTS is not supported)"
                    )
                else:
                    conds.append(expr(conj))
        optionals = []
        for og in p.optionals:
            if og.where and _PATTERN_PRED.search(og.where):
                raise ValueError(
                    "pattern predicates and counts are not supported in an "
                    "OPTIONAL MATCH's WHERE"
                )
            optionals.append(sub(og.hops, og.labels,
                                 og.preds + (_conjuncts(og.where) if og.where else [])))
        count_subs = []
        for col, pat in counts:
            sp = _Parsed()
            _parse_patterns(pat, sp, False, self.anon)
            if sp.paths or sp.single_nodes or not sp.hops:
                raise ValueError("pattern counts support relationship patterns only")
            count_subs.append((col, _Sub(sp.hops, sp.labels)))
        unwinds = []
        for uexpr, uvar in seg.unwinds:
            for pv in path_vars:  # nodes(p) unwraps a bound path's key array
                uexpr = re.sub(rf"\bnodes\s*\(\s*{pv}\s*\)", pv, uexpr, flags=re.I)
            unwinds.append((expr(uexpr), uvar))

        distinct = proj.strip().upper().startswith("DISTINCT")
        rb = proj.strip()[len("DISTINCT"):] if distinct else proj
        items: list[tuple[str, str, str, bool]] = []  # (raw, sql, alias, is_agg)
        for item in _split_top_commas(rb.strip()):
            m = re.search(r"\s+AS\s+(\w+)\s*$", item, flags=re.I)
            raw = item[: m.start()].strip() if m else item.strip()
            alias = m.group(1) if m else (
                raw if re.fullmatch(r"\w+", raw) else _default_alias(raw)
            )
            items.append((raw, expr(raw), alias, _is_agg(raw)))
        order = []
        for item in _split_top_commas(seg.order or ""):
            desc = bool(re.search(r"\s+DESC\s*$", item, flags=re.I))
            item = re.sub(r"\s+(ASC|DESC)\s*$", "", item, flags=re.I)
            order.append(expr(item) + (" DESC" if desc else ""))
        # a post-WITH WHERE may read properties of the carried variables:
        # they ride the projection as hidden columns
        post, post_refs = rewrite(seg.post_where) if seg.post_where else (None, ())
        _add_refs(refs, post_refs)
        hidden = sorted(f"{v}.{x}" for v, x in post_refs)

        rel = self.core(p, carried)
        rel = self.with_props(rel, {v: refs[v] for v in refs if v in rel.cols}, "", labels)
        for s in optionals:
            rel = self.attach(rel, s, "LEFT", labels, refs,
                              "OPTIONAL MATCH shares no variable with the MATCH")
        for col, s in count_subs:
            rel = self.attach(rel, s, "LEFT", labels, {},
                              "pattern count shares no variable with the MATCH", col)
        for u, uvar in unwinds:
            a, b = self.sql.alias(), self.sql.alias()
            rel = _Rel(f"SELECT * FROM ({rel.text}) {a} LATERAL VIEW explode({u}) {b} "
                       f"AS {_q(uvar)}", rel.cols + [uvar])
        for s, neg in exists:
            rel = self.attach(rel, s, "LEFT ANTI" if neg else "LEFT SEMI", labels, {},
                              "EXISTS pattern shares no variable with the MATCH")

        aggs = any(it[3] for it in items)
        keys = [s for _, s, _, ag in items if not ag] + [_q(h) for h in hidden]
        sel = [f"{s} AS {_q(al)}" for _, s, al, _ in items] + [_q(h) for h in hidden]
        text = (f"SELECT {'DISTINCT ' if distinct and not aggs else ''}{', '.join(sel)} "
                f"FROM ({rel.text}) {self.sql.alias()}")
        if conds:
            text += " WHERE " + " AND ".join(f"({c})" for c in conds)
        if aggs and keys:
            text += " GROUP BY " + ", ".join(keys)
        aliases = [al for _, _, al, _ in items]
        if post is not None:
            text = (f"SELECT {', '.join(map(_q, aliases))} FROM ({text}) "
                    f"{self.sql.alias()} WHERE {post}")
        if order:
            text += " ORDER BY " + ", ".join(order)
        if seg.limit is not None:
            text += f" LIMIT {seg.limit}"
        if seg.skip is not None:
            text += f" OFFSET {seg.skip}"

        # what flows into the next segment: bare-variable items keep their
        # kind (node var with label / edge struct / path array)
        out = _Scope(_Rel(text, aliases))
        for raw, _, alias, _ in items:
            if raw in path_vars:
                out.path_vars.add(alias)
            elif raw in edge_vars:
                out.edge_vars.add(alias)
            elif raw in node_vars:
                out.node_labels[alias] = labels.get(raw)
        return out

    # -- relations -----------------------------------------------------------

    def _inner(self, left: _Rel, right: _Rel, what: str) -> _Rel:
        shared = [c for c in left.cols if c in right.cols]
        if not shared:
            raise ValueError(
                f"{what} shares no variable with the rest of the query — "
                "a cartesian product is never implicit"
            )
        return _join(self.sql, left, right, "INNER", shared)

    def core(self, p: _Parsed, carried: _Scope) -> _Rel | None:
        """The MATCH rows: hops, single nodes and shortest paths joined
        on their shared variables, then the carried scope."""
        rel = None
        if p.hops:
            hop_vars = {v for h in p.hops for v in (h.src, h.dst)}
            rel = _pattern(self.sql, self.gq, p.hops,
                           {v: l for v, l in p.labels.items() if v in hop_vars})
        for var in p.single_nodes:
            lab = p.labels.get(var)
            if rel is None:
                where = f" WHERE label = {self.sql.param(lab)}" if lab else ""
                rel = _Rel(f"SELECT key AS {_q(var)} FROM "
                           f"{self.sql.frame(self.gq.nodes, 'nodes')}{where}", [var])
            elif var in rel.cols:
                rel = _labeled(self.sql, self.gq, rel, var, lab)
            else:
                raise ValueError(
                    f"single-node pattern ({var}) shares no variable with the "
                    "rest of the MATCH — a cartesian product is never implicit"
                )
        for ps in p.paths:
            pr = self.path(ps, p.labels)
            rel = pr if rel is None else self._inner(rel, pr, "shortestPath")
        if carried.rel.cols:
            rel = carried.rel if rel is None else self._inner(
                carried.rel, rel, "MATCH after WITH"
            )
        return rel

    def path(self, ps: _ShortestPath, labels: dict[str, str]) -> _Rel:
        """``shortestPath`` rows (src, dst, path): the traversal kernel
        runs now and its rows join the statement as a frame argument.
        Both endpoints pinned → the bidirectional meet-in-the-middle BFS
        (one row or none); free destination → BFS + backtrace from the
        source."""
        from pyspark.sql.types import ArrayType, StructField, StructType

        from graphdb_neo4j_spark.operators.traversal import (
            bfs_paths,
            shortest_path_bidirectional,
        )

        spark, e = self.sql.spark, self.gq.rel(ps.rel)
        cols = [ps.src, ps.dst, ps.path_var]
        if ps.dst_key is not None:
            path = shortest_path_bidirectional(
                e, ps.src_key, ps.dst_key,
                max_hops=ps.hi if ps.hi is not None else 1 << 20,
            )
            key_t = e.schema["src"].dataType
            schema = StructType([StructField(c, t) for c, t in
                                 zip(cols, (key_t, key_t, ArrayType(key_t)))])
            rows = ([(ps.src_key, ps.dst_key, path)]
                    if path is not None and len(path) - 1 >= ps.lo else [])
            frame = self.sql.frame(spark.createDataFrame(rows, schema), "path")
            rel = _Rel(f"SELECT * FROM {frame}", cols)
        else:
            srcs = spark.createDataFrame([(ps.src_key,)], ["key"])
            frame = self.sql.frame(bfs_paths(e, srcs, max_hops=ps.hi), "path")
            rel = _Rel(
                f"SELECT {self.sql.param(ps.src_key)} AS {_q(ps.src)}, key AS "
                f"{_q(ps.dst)}, path AS {_q(ps.path_var)} FROM {frame} "
                f"WHERE dist >= {ps.lo}", cols,
            )
        for var in (ps.src, ps.dst):
            if labels.get(var) is not None:
                rel = _labeled(self.sql, self.gq, rel, var, labels[var])
        return rel

    def with_props(self, rel: _Rel, refs: dict[str, set[str]], how: str,
                   labels: dict[str, str | None]) -> _Rel:
        """``rel`` plus the column `` `v.p` `` for each property p read of
        each variable v: one ``{how}JOIN`` per variable against its
        label's property table, on ``key``."""
        if not refs:
            return rel
        a = self.sql.alias()
        sel, joins, cols = [f"{a}.*"], "", list(rel.cols)
        for var, wanted in refs.items():
            lab, first = labels.get(var), f"{var}.{min(wanted)}"
            if lab is None:
                raise ValueError(
                    f"{first}: {var!r} has no label, so its property table "
                    "is unknown — label the variable"
                )
            if lab not in self.props:
                raise ValueError(
                    f"{first}: no property table for label {lab!r} — pass "
                    f"props={{{lab!r}: df}}"
                )
            table = self.props[lab]
            missing = wanted - set(table.columns)
            if missing:
                raise ValueError(f"label {lab!r} has no properties {sorted(missing)}")
            b, names = self.sql.alias(), [(x, f"{var}.{x}") for x in sorted(wanted)]
            psel = ", ".join(f"{_q(x)} AS {_q(n)}" for x, n in names)
            joins += (f" {how}JOIN (SELECT key AS __k, {psel} FROM "
                      f"{self.sql.frame(table, 'props')}) {b} ON {b}.__k = {a}.{_q(var)}")
            sel += [f"{b}.{_q(n)}" for _, n in names]
            cols += [n for _, n in names]
        return _Rel(f"SELECT {', '.join(sel)} FROM ({rel.text}) {a}{joins}", cols)

    def attach(self, rel: _Rel, s: _Sub, how: str, labels, refs, what: str,
               count: str | None = None) -> _Rel:
        """``rel {how} JOIN`` the subpattern ``s`` on their shared
        variables.  OPTIONAL (``LEFT``) groups bring their new variables
        and the properties read of them outside; ``count`` names the
        grouped-count column of a pattern count instead."""
        sub = _pattern(self.sql, self.gq, s.hops, s.labels)
        shared = [c for c in rel.cols if c in sub.cols]
        if not shared:
            raise ValueError(what)
        new = [c for c in sub.cols if c not in rel.cols]
        if count is not None:
            g = ", ".join(map(_q, shared))
            sub = _Rel(f"SELECT {g}, count(*) AS {count} FROM ({sub.text}) "
                       f"{self.sql.alias()} GROUP BY {g}", shared + [count])
            return _join(self.sql, rel, sub, how, shared)
        expose = {v: refs[v] for v in new if v in refs}
        want = {v: s.inner_refs.get(v, set()) | expose.get(v, set())
                for v in set(s.inner_refs) | set(expose)}
        sub = self.with_props(sub, want, "LEFT " if how == "LEFT" else "",
                              {**labels, **s.labels})
        if s.inner:
            sub = _Rel(f"SELECT * FROM ({sub.text}) {self.sql.alias()} WHERE "
                       + " AND ".join(f"({c})" for c in s.inner), sub.cols)
        keep = shared
        if how == "LEFT":
            keep = shared + new + [f"{v}.{x}" for v in expose for x in sorted(expose[v])]
        sub = _Rel(f"SELECT {', '.join(map(_q, keep))} FROM ({sub.text}) "
                   f"{self.sql.alias()}", keep)
        return _join(self.sql, rel, sub, how, shared,
                     " AND ".join(f"({c})" for c in s.on) or None)


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
    """Run a Cypher read query (see module docstring for the subset)
    against a :class:`GraphQuery` and return the DataFrame — ONE
    ``spark.sql`` statement; no Spark job runs before the caller acts,
    except a ``shortestPath``'s traversal kernel.

    ``props`` maps node label → property DataFrame keyed by ``key``
    (e.g. ``{"Process": g.process}``); it is only required when the
    query dereferences ``var.prop`` on that label.

    ``WITH`` pipelines lower to CTEs: each segment projects (aggregating
    if any item aggregates), the optional post-``WITH`` ``WHERE``
    filters the projection (Cypher's HAVING), and the next segment's
    patterns re-join the carried scope on shared variables — one
    statement, so the optimizer sees through the whole pipeline.

    Top-level ``UNION`` / ``UNION ALL`` combine full queries: arms must
    return the same column names (Neo4j's rule) and are aligned by
    name; ``UNION ALL`` is a bag union and ``UNION`` adds one global
    distinct."""
    low = _Lowering(gq, props or {})
    return low.sql.run(low.statement(query))
