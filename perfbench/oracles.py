"""Expected outputs, computed without the engine.

Ingest graph shape comes from ``tests/oracle_sim`` (the repo's
from-the-spec loader simulator); component sizes and BFS depths from
``tools/corpus_golden_calc``. The rest is written here: set joins for
the Cypher reads, a plain PageRank power iteration, and a fold of the
MERGE parameter stream.
"""

from __future__ import annotations

from collections import defaultdict, deque

from tests.oracle_sim import derive_spans, simulate, simulate_full  # noqa: F401
from tools.corpus_golden_calc import g40_component_sizes, g42_bfs_depths  # noqa: F401

PAGERANK_ITERATIONS = 3
PAGERANK_DAMPING = 0.85
# ranks are sums of at most a few hundred doubles; the engine adds them
# in shuffle order, so agreement is to rounding, not bit-exact
PAGERANK_REL_TOL = 1e-9


def graph_rows(nodes: dict, edges: dict) -> tuple[set, set]:
    """Oracle sets as ``{(label, key)}`` and ``{(rel, src, dst)}``."""
    n = {(lbl, k) for lbl, ks in nodes.items() for k in ks}
    e = {(rel, s, d) for rel, es in edges.items() for s, d in es}
    return n, e


def adjacency(pairs) -> dict:
    adj = defaultdict(set)
    for s, d in pairs:
        adj[s].add(d)
    return adj


def hops_from(adj: dict, src: str, max_hops: int | None = None) -> dict:
    """Minimum hop count from ``src`` to every node it reaches (src
    itself excluded unless a cycle returns to it, which SPAWNS trees
    do not have)."""
    dist = {src: 0}
    q = deque([src])
    while q:
        u = q.popleft()
        if max_hops is not None and dist[u] >= max_hops:
            continue
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    dist.pop(src)
    return dist


def pagerank(pairs, iterations: int = PAGERANK_ITERATIONS,
             damping: float = PAGERANK_DAMPING) -> dict:
    """GraphX-style PageRank: rank = (1-d) + d * sum(rank(u)/outdeg(u));
    vertices are every edge endpoint, all ranks start at 1.0."""
    pairs = set(pairs)
    verts = {v for e in pairs for v in e}
    out_deg = defaultdict(int)
    for s, _ in pairs:
        out_deg[s] += 1
    rank = dict.fromkeys(verts, 1.0)
    for _ in range(iterations):
        contrib = defaultdict(float)
        for s, d in pairs:
            contrib[d] += rank[s] / out_deg[s]
        rank = {v: (1.0 - damping) + damping * contrib.get(v, 0.0) for v in verts}
    return rank


def ranks_agree(got: dict, want: dict, rel_tol: float = PAGERANK_REL_TOL) -> bool:
    if got.keys() != want.keys():
        return False
    return all(abs(got[k] - want[k]) <= rel_tol * max(1.0, abs(want[k])) for k in want)


class MergeFold:
    """The upsert workload's store, folded one parameter row at a time.

    Mirrors the three templates the workload runs (see
    ``workloads.UPSERT_TEMPLATES``) under Neo4j MERGE semantics:
    a Process key that is new takes ``image``/``CommandLine`` from
    ON CREATE SET and no GUIDs; a key that exists takes
    ``coalesce($p, old)`` for all four properties; MATCH clauses see the
    store as it was before the template's batch ran.
    """

    PROPS = ("image", "CommandLine", "ProcessGuid", "ParentProcessGuid")

    def __init__(self):
        self.traces: set[str] = set()
        self.process: dict[str, dict] = {}
        self.has_process: set[tuple] = set()
        self.spawns: set[tuple] = set()

    def merge_traces(self, trace_ids) -> None:
        self.traces.update(trace_ids)

    def merge_processes(self, writes) -> None:
        """``writes``: dicts with key, the four props, traceID and the
        order columns f/st/si/wseq."""
        traces_before = set(self.traces)
        for w in sorted(writes, key=lambda w: (w["f"], w["st"], w["si"], w["wseq"])):
            cur = self.process.get(w["key"])
            if cur is None:
                self.process[w["key"]] = {
                    "image": w["image"], "CommandLine": w["CommandLine"],
                    "ProcessGuid": None, "ParentProcessGuid": None,
                }
            else:
                for p in self.PROPS:
                    if w[p] is not None:
                        cur[p] = w[p]
            if w["traceID"] in traces_before:
                self.has_process.add((w["traceID"], w["key"]))

    def merge_spawns(self, pairs) -> None:
        known = set(self.process)
        self.spawns.update((p, c) for p, c in pairs if p in known and c in known)

    def children(self, key: str) -> set[tuple]:
        return {
            (c, self.process[c]["image"]) for p, c in self.spawns if p == key
        }
