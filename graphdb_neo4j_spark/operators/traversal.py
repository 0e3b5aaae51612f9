"""Iterative graph traversal & analytics — the pieces Catalyst can't do.

Variable-length paths (``SPAWNS*1..``), reachability, shortest
hop-count, connected components and PageRank need recursion, which
Spark SQL lacks; the standard Spark-first answer (SURVEY.md §2.D, §4)
is a driver-side loop over DataFrames:

* **semi-naive frontier BFS** — each iteration expands only the delta
  frontier (new nodes) and unions it into the visited set.
* **HashMin connected components** — propagate min component id along
  undirected edges until a fixed point; converges in O(diameter)
  iterations.  (GraphX's alternating large-star/small-star converges in
  O(log n); HashMin is simpler and fine for provenance graphs whose
  diameter is a process-tree depth.  Swap-in point documented.)
* **PageRank** — classic iterate: contributions = rank/out_degree
  grouped by dst.  Fixed iteration count, no convergence test, matching
  GraphX's default mode.

Each kernel family runs ONE private round loop, and its public names
are front-ends that differ only where noted (Pregelix's shape: one
runtime owns the supersteps of each algorithm shape):

* power iteration, :func:`_power_iteration` — the three PageRanks
  (restart column, contribution expression);
* walks, :func:`_walk` — uniform, weighted and node2vec walks
  (adjacency, per-step pick);
* delta relaxation, :func:`_relax` — :func:`sssp_weighted`,
  :func:`temporal_bfs` (candidate expression, value column);
* tagged sweep, :func:`_tagged_sweep` — :func:`closeness_approx`,
  :func:`harmonic_centrality_exact` (seeds);
* predecessor BFS, :func:`_grow_tree` — :func:`bfs_tree` and both
  sides of :func:`shortest_path_bidirectional`, the one two-endpoint
  search;
* min-label propagation, :func:`_min_label` — HashMin and ColorSCC;
  peeling, :func:`_shrink` — k-core, coreness and k-truss.

A kernel that calls another kernel uses its private core, which
returns ``(frame, handle)``, and releases the handle once the frame is
consumed.

Round discipline, shared by every kernel here: each round's state is
frozen through :func:`order.checkpoint_eager` (without a freeze the
plan tree doubles every iteration and the driver OOMs on plan analysis
long before data is a problem), and the handle of round r−1 is
released once round r has materialized and no frame the kernel still
holds reads it — so a long-lived session does not accumulate blocks
(release contract), and ``SPARK_GRAFT_RELIABLE_FREEZE=1`` makes every
round a reliable checkpoint that survives executor loss (recovery
contract).  Frames a kernel returns stay owned by the caller.  Where a
round's convergence signal is a count over the state it freezes, the
count is observed in the freeze's own job (:func:`_observing`) instead
of costing a second one.

Scale notes: every iteration is one shuffle (groupBy dst).  The frontier
DataFrame stays partitioned by key; AQE coalesces as the frontier
shrinks.
"""

from __future__ import annotations

import sys

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from graphdb_neo4j_spark.operators.order import (
    CheckpointHandle,
    checkpoint_eager,
)


def _as_undirected(edges: DataFrame, *carry: Column) -> DataFrame:
    fwd = edges.select("src", "dst", *carry)
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), *carry
    )
    return fwd.unionByName(rev)


def _n_shuffle(df: DataFrame) -> int:
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def _induced(e: DataFrame, keys: DataFrame, col: str = "key") -> DataFrame:
    """The rows of ``e`` whose src and dst are both in ``keys``."""
    return e.join(keys.select(F.col(col).alias("src")), "src", "left_semi").join(
        keys.select(F.col(col).alias("dst")), "dst", "left_semi"
    )


def _simple_undirected(edges: DataFrame) -> tuple[DataFrame, CheckpointHandle]:
    """Frozen (src, dst) both ways, without self-loops or duplicates."""
    return checkpoint_eager(
        _as_undirected(edges).filter(F.col("src") != F.col("dst")).distinct()
    )


def _release(*handles: CheckpointHandle | None) -> None:
    for h in handles:
        if h is not None:
            h.release()


def _step(
    df: DataFrame, *done: CheckpointHandle | None
) -> tuple[DataFrame, CheckpointHandle]:
    """Freeze one round's state through :func:`checkpoint_eager`, then
    release ``done`` — the handles of the frames it replaces, which
    nothing the kernel still holds reads once it has materialized."""
    out, handle = checkpoint_eager(df)
    _release(*done)
    return out, handle


def _observing(df: DataFrame, **metrics) -> tuple[DataFrame, Observation]:
    """``df`` with ``metrics`` (name → aggregate Column) observed by the
    job that materializes it — freeze the result and read
    ``obs.get[name]``: a round's convergence signal with no job of its
    own."""
    obs = Observation()
    return df.observe(obs, *[c.alias(k) for k, c in metrics.items()]), obs


def partitioned_cache(df: DataFrame, col: str) -> DataFrame:
    """Hash-partition on ``col``, sort within partitions, and PERSIST —
    the layout discipline for a LOOP-INVARIANT table (an iterative
    kernel's edge frame) that many per-round plans will join on
    ``col``.

    Unlike a checkpoint, ``InMemoryRelation`` PRESERVES the child
    plan's outputPartitioning and outputOrdering metadata, so every
    round's join sees this side as already hash-partitioned AND
    sorted: zero Exchange, zero Sort, only the vertex-sized state
    moves.  (Verified empirically: the same frame frozen by a local
    checkpoint scans as UnknownPartitioning and re-exchanges +
    re-sorts 2|E| rows EVERY round; swapping the Louvain edge frame to
    this cache measured median round exec 13.5s -> 6.2s, −54%, over 16
    interleaved rounds at sf0.1, assignments bit-identical.)

    Cache ≠ freeze: lineage is retained, so this is ONLY for
    loop-invariant frames computed once — per-round evolving state
    still needs :func:`order.checkpoint_eager`.  MEMORY_AND_DISK spills
    rather than evicting, so release is safe under pressure; the CALLER
    owns ``unpersist()``.  On a real cluster the equivalent durable
    layout is a bucketed+sorted table (same metadata visibility);
    measured here, the one-time bucketed write cost exceeds the
    cache's at local scale (see the kernel's negative-result notes)."""
    out = df.repartition(_n_shuffle(df), col).sortWithinPartitions(col).persist()
    out.count()
    return out


def bfs(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int | None = None,
    directed: bool = True,
) -> DataFrame:
    """Hop-count BFS from a set of source keys.

    ``edges``: (src, dst [, ...]); ``sources``: single-column DataFrame of
    start keys.  Returns (key, dist) with the minimum hop count, dist 0
    for sources.  Semi-naive: only the newest frontier is expanded.
    """
    e = edges.select("src", "dst") if directed else _as_undirected(edges)
    visited, vh = checkpoint_eager(_keys(sources).withColumn("dist", F.lit(0)))
    # visited stays a LAZY union of frozen frontier frames (r11): every
    # child is frozen, so the anti-join below scans the same rows either
    # way, and the per-hop re-freeze of the whole visited set — one
    # extra job + full copy per hop, O(hops·|V|) total writes — is
    # gone.  ``parts`` holds the handles that union reads; they are
    # released when it is consolidated: every 32 hops (so an
    # unbounded-depth chain cannot grow the union plan without limit)
    # and once at the end, so the caller gets one frozen frame.
    parts = [vh]
    stale = None  # a frontier only the next hop's join still reads
    frontier = visited
    hop = 0
    while True:
        hop += 1
        if max_hops is not None and hop > max_hops:
            break
        nxt, seen = _observing(
            frontier.join(e, frontier["key"] == e["src"])
            .select(F.col("dst").alias("key"))
            .distinct()
            .join(visited.select("key"), "key", "left_anti")
            .withColumn("dist", F.lit(hop)),
            n=F.count(F.lit(1)),
        )
        nxt, nh = _step(nxt, stale)
        stale = None
        if seen.get["n"] == 0:
            nh.release()
            break
        visited = visited.unionByName(nxt)
        parts.append(nh)
        if hop % 32 == 0:
            visited, vh = _step(visited, *parts[:-1])
            parts, stale = [vh], nh
        frontier = nxt
    _release(stale)
    if len(parts) > 1:
        visited, vh = _step(visited, *parts)
    return visited


def reachable(edges: DataFrame, sources: DataFrame, directed: bool = True) -> DataFrame:
    """Transitive closure from sources — ``(s)-[*1..]->(n)`` node set
    (sources included at dist 0)."""
    return bfs(edges, sources, directed=directed)


def _tree_side(seeds: DataFrame) -> dict:
    """A predecessor BFS at depth 0: the frozen (key, dist, pred)
    ``seeds`` are both its visited set and its frontier."""
    v, vh = checkpoint_eager(seeds)
    return {"visited": v, "frontier": v, "depth": 0, "vh": vh, "fh": None}


def _grow_tree(side: dict, e: DataFrame) -> int:
    """Grow a predecessor BFS ``side`` one level over ``e``: the keys
    first reached, with pred = min frontier key among their parents,
    become the frontier and join the re-frozen visited set.  Returns
    their count, observed in their freeze."""
    side["depth"] += 1
    frontier, visited = side["frontier"], side["visited"]
    nxt, seen = _observing(
        frontier.join(e, frontier["key"] == e["src"])
        .select(F.col("dst").alias("key"), frontier["key"].alias("pred"))
        .groupBy("key")
        .agg(F.min("pred").alias("pred"))
        .join(visited.select("key"), "key", "left_anti")
        .withColumn("dist", F.lit(side["depth"]))
        .select("key", "dist", "pred"),
        n=F.count(F.lit(1)),
    )
    nxt, nh = checkpoint_eager(nxt)
    if seen.get["n"] == 0:
        nh.release()
        return 0
    side["visited"], side["vh"] = _step(
        visited.unionByName(nxt), side["vh"], side["fh"]
    )
    side["frontier"], side["fh"] = nxt, nh
    return seen.get["n"]


def _bfs_tree(
    edges: DataFrame, sources: DataFrame, max_hops: int | None, directed: bool
) -> tuple[DataFrame, CheckpointHandle]:
    e = edges.select("src", "dst") if directed else _as_undirected(edges)
    side = _tree_side(
        _keys(sources)
        .withColumn("dist", F.lit(0))
        .withColumn("pred", F.lit(None).cast(e.schema["src"].dataType))
    )
    while max_hops is None or side["depth"] < max_hops:
        if not _grow_tree(side, e):
            break
    _release(side["fh"])
    return side["visited"], side["vh"]


def bfs_tree(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int | None = None,
    directed: bool = True,
) -> DataFrame:
    """(key, dist, pred) — the BFS shortest-path FOREST from the source
    set: minimum hop count plus one deterministic predecessor per
    reached node (min frontier key among equal-distance parents, so the
    tree — and every reconstructed path — is stable across runs and
    partitionings).  ``pred`` is NULL for sources.  Same semi-naive
    frontier shape as :func:`bfs`: one join + one grouped min per hop.
    """
    return _bfs_tree(edges, sources, max_hops, directed)[0]


def _backtrace_paths_doubling(
    tree: DataFrame, max_rounds: int | None = None
) -> tuple[DataFrame, CheckpointHandle]:
    """(key, dist, path) for EVERY row of a predecessor table via
    pointer doubling: each row carries (anc, seg) where ``seg`` is the
    path from ``anc`` (exclusive) to the row (inclusive); one self-join
    per round composes seg(anc) ++ seg, doubling the ancestor distance
    — O(log max_depth) rounds instead of O(max_depth).  The right
    strategy when paths are materialized for the WHOLE table (each
    round touches all n rows but there are only log d of them); the
    step backtrace wins when ``targets`` narrows the output.

    The round bound defaults to ⌈log₂ n⌉+1 (a forest path visits ≤ n
    nodes, and doubling covers length n in log rounds), which also
    caps segment growth at O(n) per row on a CYCLIC pred forest
    (zero-weight-cycle SSSP): cycle rows never reach a root and are
    dropped at the bound instead of doubling forever.  Returns the
    paths and the handle of the frozen frame they read."""
    import math

    if max_rounds is None:
        n = tree.count()
        max_rounds = math.ceil(math.log2(max(n, 2))) + 1
    pending = F.count_if(F.col("anc").isNotNull())
    p, obs = _observing(tree.select(
        "key", "dist",
        F.col("pred").alias("anc"),
        F.array("key").alias("seg"),
    ), n=pending)
    p, ph = checkpoint_eager(p)
    rounds = 0
    while rounds < max_rounds and obs.get["n"]:
        rounds += 1
        todo = p.filter(F.col("anc").isNotNull())
        links = p.select(
            F.col("key").alias("anc"),
            F.col("anc").alias("anc2"),
            F.col("seg").alias("seg2"),
        )
        stepped = todo.join(links, "anc").select(
            "key", "dist",
            F.col("anc2").alias("anc"),
            F.concat(F.col("seg2"), F.col("seg")).alias("seg"),
        )
        p, obs = _observing(
            p.filter(F.col("anc").isNull()).unionByName(stepped), n=pending
        )
        p, ph = _step(p, ph)
    # rows still carrying an ancestor at the bound are cyclic pred
    # chains (never reach a root) — cut, not returned with partial paths
    return p.filter(F.col("anc").isNull()).select(
        "key", "dist", F.col("seg").alias("path")
    ), ph


def _backtrace_paths(
    tree: DataFrame, targets: DataFrame | None = None,
    max_rounds: int | None = None,
) -> tuple[DataFrame, CheckpointHandle]:
    """(key, dist, path) from a predecessor table (key, dist, pred):
    level-synchronous backtrace — ALL rows walk one pred-link per round
    (one equi-join), so rounds = max path length, never per-row work on
    the driver.  ``targets`` (single-column) restricts which rows get a
    path (the pred table still serves every link).  Output size is the
    inherent Σ|path| — materialize paths only for the rows you need.
    For whole-table materialization :func:`_backtrace_paths_doubling`
    does the same in O(log max_depth) rounds.

    The round bound defaults to the tree's row count + 1 — a forest
    path visits each node at most once, so every acyclic path
    completes regardless of depth (the loop exits as soon as all rows
    finish); only cyclic pred chains (zero-weight-cycle SSSP) hit the
    bound and are cut.  Returns the paths and the handle of the frozen
    frame they read.
    """
    if max_rounds is None:
        max_rounds = tree.count() + 1
    start = tree
    if targets is not None:
        t = targets.select(
            F.col(targets.columns[0]).alias("key")
        ).distinct()
        start = tree.join(t, "key", "left_semi")
    pending = F.count_if(F.col("cur").isNotNull())
    paths, obs = _observing(start.select(
        "key", "dist",
        F.col("pred").alias("cur"),
        F.array("key").alias("path"),
    ), n=pending)
    paths, th = checkpoint_eager(paths)
    done = paths.filter(F.col("cur").isNull()).select("key", "dist", "path")
    dh = None  # set once ``done`` is frozen apart from ``paths``
    todo = paths.filter(F.col("cur").isNotNull())  # th: its frozen source
    links = tree.select(F.col("key").alias("cur"), F.col("pred").alias("nxt"))
    rounds = 0
    while obs.get["n"] and rounds < max_rounds:
        rounds += 1
        stepped, obs = _observing(
            todo.join(links, "cur")
            .select(
                "key", "dist",
                F.col("nxt").alias("cur"),
                F.concat(F.array(F.col("cur")), F.col("path")).alias("path"),
            ),
            n=pending,
        )
        stepped, sh = checkpoint_eager(stepped)
        done, dh = _step(done.unionByName(
            stepped.filter(F.col("cur").isNull()).select("key", "dist", "path")
        ), dh, th)
        todo, th = stepped.filter(F.col("cur").isNotNull()), sh
    if dh is None:
        return done, th
    th.release()
    return done, dh


def bfs_paths(
    edges: DataFrame,
    sources: DataFrame,
    targets: DataFrame | None = None,
    max_hops: int | None = None,
    directed: bool = True,
) -> DataFrame:
    """(key, dist, path) — minimum hop count AND one reconstructed
    shortest path (array of keys, source first) per reached node;
    Cypher's ``shortestPath((s)-[*]->(n))`` surface.  BFS forest via
    :func:`bfs_tree`, then a backtrace; pass ``targets`` to materialize
    paths only where you need them (path bytes are the dominant cost at
    scale, not the traversal).  Whole-table materialization uses the
    pointer-doubling backtrace (O(log depth) rounds); a targeted one
    walks single links (O(depth) rounds over only the targets' rows)."""
    return _paths_of(
        *_bfs_tree(edges, sources, max_hops, directed), targets
    )


def _paths_of(
    tree: DataFrame, th: CheckpointHandle, targets: DataFrame | None
) -> DataFrame:
    """Backtrace paths from a frozen predecessor table, then release
    it: the paths read only the backtrace's frozen frame."""
    if targets is None:
        paths, _ = _backtrace_paths_doubling(tree)
    else:
        paths, _ = _backtrace_paths(tree, targets=targets)
    th.release()
    return paths


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 50
) -> DataFrame:
    """(key, component) — component = min key (lexicographic) in the
    weakly-connected component.  HashMin label propagation.
    """
    return _connected_components(nodes, edges, max_iter)[0]


def _connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 50
) -> tuple[DataFrame, CheckpointHandle]:
    e, eh = checkpoint_eager(_as_undirected(edges).distinct())
    comp, ch = checkpoint_eager(_keys(nodes).withColumn("component", F.col("key")))
    comp, ch = _min_label(comp, ch, e, "component", max_iter)
    eh.release()
    return comp, ch


def _min_label(
    labels: DataFrame, lh: CheckpointHandle, e: DataFrame, col: str,
    max_iter: int,
) -> tuple[DataFrame, CheckpointHandle]:
    """Min-label propagation along ``e`` to a fixed point: a key's
    ``col`` becomes the min over its own and its in-neighbors' labels;
    the self row carries the old label, so the changed count rides in
    the freeze's own job."""
    for _ in range(max_iter):
        msgs = (
            labels.join(e, labels["key"] == e["src"])
            .select(F.col("dst").alias("key"), col)
            .withColumn("old", F.lit(None).cast(labels.schema[col].dataType))
        )
        new, changed = _observing(
            labels.select("key", col, F.col(col).alias("old"))
            .unionByName(msgs)
            .groupBy("key")
            .agg(F.min(col).alias(col), F.min("old").alias("old")),
            n=F.count_if(F.col(col) != F.col("old")),
        )
        labels, lh = _step(new.select("key", col), lh)
        if changed.get["n"] == 0:
            break
    return labels, lh


def connected_components_twophase(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 30
) -> DataFrame:
    """(key, component) via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond").

    Converges in O(log n) rounds REGARDLESS of graph diameter — the
    scale answer for long-chain graphs where HashMin
    (:func:`connected_components`, O(diameter) rounds) crawls.  Each
    round is two grouped aggregations (two shuffles); the edge list
    contracts toward a star per component, whose center is the
    component minimum.  Results are identical to HashMin.
    """
    return _connected_components_twophase(nodes, edges, max_iter)[0]


def _connected_components_twophase(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 30
) -> tuple[DataFrame, CheckpointHandle]:
    e, eh = checkpoint_eager(
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    prev_sig = None
    for _ in range(max_iter):
        # large-star: for every u, attach its LARGER neighbors to
        # m(u) = min(N(u) ∪ {u})
        sym = _as_undirected(e)
        grouped = sym.groupBy("src").agg(
            F.min("dst").alias("min_n"), F.collect_set("dst").alias("ns")
        )
        m = F.least(F.col("min_n"), F.col("src"))
        large = (
            grouped.select(F.col("src"), m.alias("m"), F.explode("ns").alias("v"))
            .filter(F.col("v") > F.col("src"))
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            # no distinct here (r11): the small-star groupBy's
            # collect_set/min dedup duplicate (src,dst) rows anyway, and
            # ``small`` keeps its own distinct, so ``e`` stays a SET and
            # every round (and the convergence signature) is identical —
            # one full exchange per round removed (guide §2.4)
        )
        # small-star: canonicalize to (hi, lo), hang each lo-neighbor
        # (and hi itself) off the minimum
        canon = large.select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        g2 = canon.groupBy("u").agg(
            F.min("v").alias("m"), F.collect_set("v").alias("ns")
        )
        small, sig_obs = _observing(
            g2.select(
                "u",
                "m",
                F.explode(F.array_union(F.col("ns"), F.array(F.col("u")))).alias("v"),
            )
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
            .distinct(),
            n=F.count(F.lit(1)),
            h=F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")),
        )
        # the edge set's signature is observed in its freeze's own job
        e, eh = _step(small, eh)
        sig = (sig_obs.get["n"], sig_obs.get["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    roots = e.select(F.col("src").alias("key"), F.col("dst").alias("component"))
    return _keys(nodes).join(roots, "key", "left").select(
        "key", F.coalesce(F.col("component"), F.col("key")).alias("component")
    ), eh


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """(key, rank) after a fixed number of power iterations.

    Matches the classic GraphX formulation: rank = (1-d) + d * Σ
    incoming rank/out_degree; dangling nodes keep their base rank.
    """
    e = edges.select("src", "dst")
    verts, vh = checkpoint_eager(_vertex_set(e, nodes))
    # Honesty note (r7 finding): the checkpointed `links` scans as
    # UnknownPartitioning, so each ITERATION's join still re-exchanges
    # it — on the small corpus graph this is sub-noise; converting to
    # partitioned_cache (the Louvain fix) is the lever if a big graph
    # ever lands here, but beware: cached stats let AQE broadcast the
    # rank side, and a per-iteration rank broadcast measured 1.5-2s
    # SLOWER on the corpus graph (driver collect + rebroadcast each
    # round).  grouped-double-sum caveat: rank contributions sum as
    # doubles, so any layout change can move float partial order; g41
    # is rows-only-by-design for exactly this reason.
    links, lh = _src_links(
        e, F.count("*").alias("out_degree"), F.col("out_degree")
    )
    return _power_iteration(
        links, lh, verts, vh, F.lit(1.0),
        F.col("rank") / F.col("out_degree"), iterations, damping,
    )


def _keys(df: DataFrame) -> DataFrame:
    """(key) — the distinct values of ``df``'s first column."""
    return df.select(F.col(df.columns[0]).alias("key")).distinct()


def _vertex_set(e: DataFrame, nodes: DataFrame | None) -> DataFrame:
    """(key) — ``nodes``' first column, or else the endpoints of ``e``."""
    if nodes is not None:
        return _keys(nodes)
    return (
        e.select(F.col("src").alias("key"))
        .unionByName(e.select(F.col("dst").alias("key")))
        .distinct()
    )


def _src_links(
    e: DataFrame, out: Column, link: Column
) -> tuple[DataFrame, CheckpointHandle]:
    """(src, dst, link), frozen: ``e`` partitioned on src ONCE, so the
    per-src aggregate ``out`` and its join back reuse one exchange."""
    e_p = e.repartition(_n_shuffle(e), "src")
    agg = e_p.groupBy(F.col("src").alias("key")).agg(out)
    return checkpoint_eager(
        e_p.join(agg, e_p["src"] == agg["key"]).select("src", "dst", link)
    )


def _power_iteration(
    links: DataFrame,
    lh: CheckpointHandle,
    base: DataFrame,
    bh: CheckpointHandle,
    restart: Column,
    contrib: Column,
    iterations: int,
    damping: float,
) -> DataFrame:
    """The PageRank loop: from rank = ``restart``, ``iterations``
    frozen rounds of rank(v) = (1-d)·restart(v) + d·Σ_{u→v} contrib,
    ``restart`` read from the vertex table ``base``, ``contrib`` from
    ``links`` and the source's rank.  Releases ``links``, and ``base``
    once a round has run."""
    ranks, rh = base.select("key", restart.alias("rank")), None
    for _ in range(iterations):
        contribs = (
            links.join(ranks, links["src"] == ranks["key"])
            .select(F.col("dst").alias("key"), contrib.alias("contrib"))
            .groupBy("key")
            .agg(F.sum("contrib").alias("contrib"))
        )
        ranks, rh = _step(
            base.join(contribs, "key", "left")
            .select(
                "key",
                (F.lit(1.0 - damping) * restart
                 + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
                 ).alias("rank"),
            ),
            rh,
        )
    _release(lh, bh if iterations > 0 else None)
    return ranks


def k_core(nodes: DataFrame, edges: DataFrame, k: int, max_iter: int = 100) -> DataFrame:
    """(key) — vertices of the k-core: the maximal subgraph where every
    vertex has undirected degree ≥ k.  Iterative peel: drop sub-k
    vertices, recompute degrees, repeat to a fixed point — each round
    one degree aggregation + two semi-joins; rounds bounded by the
    peeling depth (small for provenance graphs).
    """
    und, uh = _simple_undirected(edges)
    remaining, seen = _observing(_keys(nodes), n=F.count(F.lit(1)))
    remaining, rh = checkpoint_eager(remaining)
    core, ch, _ = _shrink(
        remaining, rh, seen.get["n"], _k_core_peel(und, k), max_iter
    )
    _release(uh, rh if ch is not rh else None)
    return core


def _k_core_peel(und: DataFrame, k: int):
    """One k-core peel of a (key) set: keep the keys with at least
    ``k`` neighbours in ``und`` inside the set."""
    def keep_of(cur: DataFrame) -> DataFrame:
        deg = _induced(und, cur).groupBy(F.col("src").alias("key")).agg(
            F.count("*").alias("deg")
        )
        return (
            cur.join(deg, "key", "left")
            .filter(F.coalesce(F.col("deg"), F.lit(0)) >= k)
            .select("key")
        )
    return keep_of


def _shrink(
    cur: DataFrame, ch: CheckpointHandle, n: int, keep_of, max_iter: int
) -> tuple[DataFrame, CheckpointHandle, int]:
    """The peeling loop: freeze ``keep_of(cur)`` — the rows of ``cur``
    (``n`` of them) that survive a peel — until a round drops none
    (counted in its freeze).  Returns the survivors, their handle and
    size; ``ch`` stays with the caller."""
    first = ch
    for _ in range(max_iter):
        keep, seen = _observing(keep_of(cur), n=F.count(F.lit(1)))
        keep, kh = checkpoint_eager(keep)
        if seen.get["n"] == n:
            kh.release()
            break
        if ch is not first:
            ch.release()
        cur, ch, n = keep, kh, seen.get["n"]
    return cur, ch, n


def core_decomposition(
    nodes: DataFrame, edges: DataFrame, max_core: int = 100
) -> DataFrame:
    """``(v, coreness)`` — every vertex's core number: the largest k
    such that v survives in the k-core (Batagelj–Zaveršnik semantics,
    computed by staged peeling).

    Outer loop over k = 1, 2, …: peel the current remainder (already
    the (k-1)-core) down to the k-core; vertices peeled at stage k
    have coreness k-1.  Each peel round is one degree aggregation +
    semi-joins on a monotonically SHRINKING vertex set, so total work
    is bounded by (max coreness) × (peel depth) rounds over
    ever-smaller frames — the standard distributed coreness shape.
    Degeneracy-ordered or Montresor-style asynchronous variants cut
    round counts further at extreme scale; the staged peel keeps every
    step a plain aggregate.
    """
    und, uh = _simple_undirected(edges)
    remaining, seen = _observing(_keys(nodes), n=F.count(F.lit(1)))
    remaining, rh = checkpoint_eager(remaining)
    n = seen.get["n"]
    spark = nodes.sparkSession
    out, oh = checkpoint_eager(
        spark.createDataFrame([], "v string, coreness int")
    )
    for k in range(1, max_core + 1):
        # every round but the last drops a key, so n + 1 rounds never
        # cut a peel; remaining is read by this stage's ``peeled``
        survivors, sh, n = _shrink(
            remaining, rh, n, _k_core_peel(und, k), n + 1
        )
        peeled = remaining.join(survivors, "key", "left_anti").select(
            F.col("key").alias("v"), F.lit(k - 1).cast("int").alias("coreness")
        )
        out, oh = _step(out.unionByName(peeled), oh)
        if sh is not rh:
            rh.release()
        remaining, rh = survivors, sh
        if n == 0:
            break
    _release(uh, rh)
    return out


def strongly_connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_outer: int = 25,
    max_prop: int = 50,
) -> DataFrame:
    """(key, component) — component = min key of the vertex's strongly-
    connected component.  ColorSCC: per round, propagate the MIN vertex
    id forward to a fixed point (``color(v)`` = min id that can reach
    v); color roots (``color(v) == v``) anchor their SCC, which is the
    backward closure from the root restricted to its color class; all
    roots' SCCs extract in parallel per round, extracted vertices leave
    the graph, repeat.  Trivial (single-vertex) SCCs — the vast
    majority in provenance DAGs — drain in the first rounds, so the
    outer loop runs O(condensation depth) times, each round costing
    O(diameter) joins.  Every step is a DataFrame join/agg — no
    driver-side graph state.
    """
    remaining, seen = _observing(_keys(nodes), n=F.count(F.lit(1)))
    remaining, rh = checkpoint_eager(remaining)
    n_rem = seen.get["n"]
    e_rem, eh = checkpoint_eager(
        edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    )
    parts: list[DataFrame] = []  # frozen; the returned union reads them

    def trim(rem: DataFrame, n: int, rh, e: DataFrame, eh):
        """Bulk-peel trivial SCCs: a vertex with no incoming or no
        outgoing edge (within the remaining graph) cannot be on a
        cycle.  Peeling exposes new such vertices, so iterate to a
        fixed point — a DAG (the overwhelmingly common provenance
        shape) drains here entirely in ~depth/2 cheap rounds and the
        expensive coloring loop below never touches it.  ``n`` is the
        size of the distinct key set ``rem``; the kept subset's size,
        observed in its freeze, tells whether anything peeled."""
        while n:
            has_in = e.select(F.col("dst").alias("key")).distinct()
            has_out = e.select(F.col("src").alias("key")).distinct()
            keep, kept = _observing(
                rem.join(has_in, "key", "left_semi")
                .join(has_out, "key", "left_semi"),
                n=F.count(F.lit(1)),
            )
            keep, kh = checkpoint_eager(keep)
            if kept.get["n"] == n:
                kh.release()
                break
            parts.append(checkpoint_eager(
                rem.join(keep, "key", "left_anti")
                .select("key", F.col("key").alias("component"))
            )[0])
            rh.release()
            rem, n, rh = keep, kept.get["n"], kh
            e, eh = _step(_induced(e, rem), eh)
        return rem, n, rh, e, eh

    # self-loops are cycles of length 1 but carry no inter-vertex SCC
    # structure; with them filtered from the edges they trim as trivial,
    # which is correct (a self-loop vertex is its own SCC)
    remaining, n_rem, rh, e_rem, eh = trim(remaining, n_rem, rh, e_rem, eh)
    for _ in range(max_outer):
        if not n_rem:
            break
        e = e_rem
        # forward min-propagation to fixed point: color(v) = min id
        # reaching v (including v itself)
        color, ch = _min_label(
            *checkpoint_eager(remaining.withColumn("color", F.col("key"))),
            e, "color", max_prop,
        )
        # SCC of root r = backward closure of r within color class r:
        # one tagged sweep from every root over the reversed edges that
        # stay inside a color class
        cs = color.select(F.col("key").alias("src"), F.col("color").alias("cs"))
        cd = color.select(F.col("key").alias("dst"), F.col("color").alias("cd"))
        same, sh = checkpoint_eager(
            e.join(cs, "src").join(cd, "dst")
            .filter(F.col("cs") == F.col("cd"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        assigned = _tagged_sweep(
            same,
            color.filter(F.col("color") == F.col("key"))
            .select(F.col("key").alias("pivot")),
            sys.maxsize,
        ).select("key", F.col("pivot").alias("component"))
        sh.release()
        parts.append(assigned)
        remaining, seen = _observing(
            remaining.join(assigned.select("key"), "key", "left_anti"),
            n=F.count(F.lit(1)),
        )
        remaining, rh = _step(remaining, rh)
        e_rem, eh = _step(_induced(e, remaining), eh, ch)
        # extraction exposes new zero-degree vertices — re-trim before
        # paying for another coloring fixed point
        remaining, n_rem, rh, e_rem, eh = trim(
            remaining, seen.get["n"], rh, e_rem, eh
        )
    _release(rh, eh)
    from functools import reduce

    return reduce(DataFrame.unionByName, parts)


def _pivots(
    nodes: DataFrame, n_samples: int
) -> tuple[DataFrame, CheckpointHandle, int, list]:
    """The frozen key set of ``nodes``, its handle, its size (observed
    in its freeze) and its ``n_samples`` smallest-md5(key) keys —
    deterministic, reproducible pivots."""
    verts, seen = _observing(_keys(nodes), n=F.count(F.lit(1)))
    verts, vh = checkpoint_eager(verts)
    pivots = [
        r["key"]
        for r in verts.withColumn("__h", F.md5(F.col("key")))
        .orderBy("__h")
        .limit(n_samples)
        .collect()
    ]
    return verts, vh, seen.get["n"], pivots


def betweenness_approx(
    nodes: DataFrame,
    edges: DataFrame,
    n_samples: int = 8,
    max_hops: int = 32,
    directed: bool = True,
) -> DataFrame:
    """(key, betweenness) — Brandes sampled approximation, ALL pivots
    advanced in one tagged multi-source sweep.

    Exact betweenness is one Brandes sweep per vertex (O(V·E) total);
    the standard scale answer samples ``n_samples`` pivot sources
    (deterministically, by md5(key) order — reproducible) and scales
    the accumulated dependencies by V/k.  Frontier rows carry their
    pivot tag (the :func:`closeness_approx` formulation, whose
    docstring measured 3× vs per-pivot sweeps), so the forward σ pass
    and the level-synchronous backward δ pass
    (δ(u) += σ(u)/σ(v)·(1+δ(v)) over each pivot's shortest-path DAG)
    both run O(max_depth) join/agg rounds TOTAL — the driver-side job
    count is independent of ``n_samples``, which dominates wall-clock
    at cluster scale.  A pivot with a shallower BFS than the global
    max simply contributes no rows at the deeper levels.
    """
    verts, vh, n_vertices, pivots = _pivots(nodes, n_samples)
    e, eh = checkpoint_eager(
        (edges.select("src", "dst") if directed else _as_undirected(edges)).distinct()
    )
    spark = edges.sparkSession
    acc, ah = _step(verts.withColumn("betweenness", F.lit(0.0)), vh)
    if not pivots:
        eh.release()
        return acc.select("key", "betweenness")
    # forward pass: tagged path counts σ per (pivot, key), one level of
    # ALL pivots per round; levels[h] = (pivot, key, sigma)
    level, lh = checkpoint_eager(
        spark.createDataFrame([(p,) for p in pivots], ["pivot"])
        .select("pivot", F.col("pivot").alias("key"))
        .withColumn("sigma", F.lit(1.0))
    )
    levels, level_handles = [level], [lh]
    seen, sh = checkpoint_eager(level.select("pivot", "key"))
    for _ in range(max_hops):
        nxt, nh = checkpoint_eager(
            level.join(e, level["key"] == e["src"])
            .groupBy("pivot", F.col("dst").alias("k2"))
            .agg(F.sum("sigma").alias("sigma"))
            .select("pivot", F.col("k2").alias("key"), "sigma")
            .join(seen, ["pivot", "key"], "left_anti")
        )
        if nxt.isEmpty():
            nh.release()
            break
        levels.append(nxt)
        level_handles.append(nh)
        seen, sh = _step(seen.unionByName(nxt.select("pivot", "key")), sh)
        level = nxt
    sh.release()
    # backward dependency sweep, level-synchronous across pivots
    delta, dh = checkpoint_eager(levels[-1].select(
        "pivot", "key", F.lit(0.0).alias("delta")
    ))
    for h in range(len(levels) - 1, 0, -1):
        child = levels[h].join(delta, ["pivot", "key"], "left").select(
            "pivot",
            "key",
            "sigma",
            F.coalesce(F.col("delta"), F.lit(0.0)).alias("delta"),
        )
        parent_sig = levels[h - 1]
        contribs = (
            parent_sig.join(e, parent_sig["key"] == e["src"])
            .join(
                child.select(
                    F.col("pivot").alias("c_pivot"),
                    F.col("key").alias("c_key"),
                    F.col("sigma").alias("c_sigma"),
                    F.col("delta").alias("c_delta"),
                ),
                (F.col("dst") == F.col("c_key"))
                & (parent_sig["pivot"] == F.col("c_pivot")),
            )
            .select(
                "pivot",
                "key",
                (
                    (F.col("sigma") / F.col("c_sigma"))
                    * (F.lit(1.0) + F.col("c_delta"))
                ).alias("contrib"),
            )
            .groupBy("pivot", "key")
            .agg(F.sum("contrib").alias("delta"))
        )
        # level h-1's dependencies, consumed next round
        delta, dh = _step(contribs, dh)
        if h - 1 > 0:  # each pivot's own dependency is not counted
            per_key = delta.groupBy("key").agg(F.sum("delta").alias("__d"))
            acc, ah = _step(
                acc.join(per_key, "key", "left")
                .select(
                    "key",
                    (
                        F.col("betweenness")
                        + F.coalesce(F.col("__d"), F.lit(0.0))
                    ).alias("betweenness"),
                ),
                ah,
            )
    _release(eh, dh, *level_handles)
    scale = float(n_vertices) / float(max(len(pivots), 1))
    return acc.select("key", (F.col("betweenness") * F.lit(scale)).alias("betweenness"))


def random_walks(
    edges: DataFrame,
    walks_per_node: int = 2,
    walk_length: int = 3,
) -> DataFrame:
    """Deterministic uniform random walks over the UNDIRECTED graph —
    training-data generation for node-embedding models (DeepWalk /
    node2vec p=q=1).  Returns ``(start, w, step, node)`` rows: walk
    ``w ∈ [0, walks_per_node)`` from each node, positions
    ``step ∈ [0, walk_length]`` (step 0 is the start node itself).

    Determinism (no RNG state, reproducible and oracle-checkable): the
    neighbor chosen at each step is
    ``nbrs[ md5_32(start|w|step|cur) mod degree(cur) ]`` over the
    SORTED distinct neighbor list — a counter-keyed hash, so the walk
    is a pure function of the graph.  Undirected means every visited
    node has ≥1 neighbor: no dead-end special case.

    100 TB shape: adjacency is one (src → sorted neighbor array)
    aggregate; each step is an equi-join of the walk frontier against
    it (frontier carries (start, w, cur) only — paths are emitted as
    rows, never accumulated into arrays).  With the adjacency table
    bucketed by src the per-step join is shuffle-free on the adjacency
    side; ``walk_length`` joins total, each frontier the same size
    (nodes × walks_per_node).  Hot-node skew is bounded: the frontier
    row count never grows, unlike BFS frontiers.

    Freeze discipline: the output accumulator is frozen each step (its
    frozen blocks absorb the prior steps' rows), so step s-1's frontier
    and output are RELEASED once step s materializes — peak frozen
    state is ~2× the final output + two frontiers, never L frontiers.
    """
    und = _as_undirected(edges).distinct()
    adj = (
        und.groupBy("src")
        .agg(F.sort_array(F.collect_set("dst")).alias("nbrs"))
        .persist()  # probed by every step's join AND the union branches
    )

    def pick(frontier: DataFrame, h: Column) -> DataFrame:
        return frontier.join(adj, frontier["cur"] == adj["src"]).select(
            "start",
            "w",
            F.element_at(
                F.col("nbrs"), (h % F.size("nbrs")).cast("int") + F.lit(1)
            ).alias("cur"),
        )

    return _walk(adj, walks_per_node, walk_length, pick)


def _walk(
    adj: DataFrame,
    walks_per_node: int,
    walk_length: int,
    pick,
    *carry: Column,
) -> DataFrame:
    """The walk loop: ``walks_per_node`` walks from every ``adj`` src
    (frontier (start, w, *carry, cur)); step s freezes
    ``pick(frontier, h)``, h = md5_32(start|w|s|cur), and appends it
    to the frozen output.  Unpersists ``adj`` at the end."""
    frontier = adj.select(
        F.col("src").alias("start"),
        F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1))).alias("w"),
        *carry,
        F.col("src").alias("cur"),
    )
    out = frontier.select(
        "start", "w", F.lit(0).alias("step"), F.col("cur").alias("node")
    )
    fh = oh = None  # handles of the current frontier and output
    for step in range(1, walk_length + 1):
        key = F.concat_ws(
            "|", F.col("start"), F.col("w"), F.lit(step), F.col("cur")
        )
        h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
        frontier, nfh = checkpoint_eager(pick(frontier, h))
        out, oh = _step(
            out.unionByName(
                frontier.select(
                    "start", "w", F.lit(step).alias("step"),
                    F.col("cur").alias("node"),
                )
            ),
            oh, fh,
        )
        fh = nfh
    _release(fh)
    adj.unpersist()
    return out


def weighted_random_walks(
    edges: DataFrame,
    walks_per_node: int = 2,
    walk_length: int = 3,
    weight_col: str = "w",
) -> DataFrame:
    """:func:`random_walks` with edge-weight-proportional transition
    probabilities (integer weights, e.g. interaction multiplicities) —
    still fully deterministic and oracle-checkable.

    Neighbor selection is EXACT integer arithmetic end-to-end: the
    adjacency build computes per-neighbor cumulative weights ONCE with
    a window cumsum over the exploded edges (O(degree) relational work,
    not O(degree²) per step), and each step picks
    ``nbrs[|{c ∈ cumw : c ≤ md5_32(start|w|step|cur) mod total}| + 1]``
    — no floating point anywhere, so any SQL engine replays the walk
    bit-for-bit.  Parallel edges merge by summing weights; the graph is
    made undirected first (each direction carries the edge's weight).

    100 TB shape: identical to :func:`random_walks` — walk_length
    equi-joins of a constant-size frontier against the (bucketed)
    adjacency; the per-step filter over the cumw array is O(degree)
    map-side work.
    """
    und = _as_undirected(edges, F.col(weight_col))
    wedges = und.groupBy("src", "dst").agg(
        F.sum(weight_col).cast("long").alias("w")
    )
    win = Window.partitionBy("src").orderBy("dst").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = wedges.withColumn("cumw", F.sum("w").over(win))
    adj = (
        cum.groupBy("src")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("dst", "cumw"))
            ).alias("arr")
        )
        .select(
            "src",
            F.transform("arr", lambda x: x["dst"]).alias("nbrs"),
            F.transform("arr", lambda x: x["cumw"]).alias("cumw"),
            F.element_at(F.transform("arr", lambda x: x["cumw"]), -1).alias(
                "total"
            ),
        )
        .persist()
    )

    def pick(frontier: DataFrame, h: Column) -> DataFrame:
        r = h % F.col("total")
        idx = F.size(F.filter("cumw", lambda c: c <= r)) + F.lit(1)
        return frontier.join(adj, frontier["cur"] == adj["src"]).select(
            "start",
            "w",
            F.element_at(F.col("nbrs"), idx).alias("cur"),
        )

    return _walk(adj, walks_per_node, walk_length, pick)


def node2vec_walks(
    edges: DataFrame,
    walks_per_node: int = 2,
    walk_length: int = 3,
    ret_w: int = 1,
    base_w: int = 1,
    far_w: int = 1,
) -> DataFrame:
    """node2vec second-order biased walks, fully deterministic.

    The transition out of ``cur`` (having arrived from ``prev``) weights
    each neighbor ``x`` by INTEGER bias weights — the node2vec
    ``(1/p, 1, 1/q)`` triple scaled to integers so selection stays
    exact-arithmetic and cross-engine replayable:

    * ``ret_w``  if ``x == prev``            (return, node2vec 1/p)
    * ``base_w`` if ``x ∈ N(prev)``          (stay close, weight 1)
    * ``far_w``  otherwise                   (explore, node2vec 1/q)

    Step 1 (no ``prev`` yet) is uniform, matching the reference
    implementation.  Selection: ``r = md5_32(start|w|step|cur) mod
    total`` then the first neighbor whose cumulative weight exceeds
    ``r`` — all int64, no floating point.

    Scale notes: the per-step weight/cum arrays are built by expression
    over the CURRENT row's neighbor list — O(degree²) per frontier row
    (membership test × neighbors).  That is the honest cost of exact
    second-order bias computed on the fly; production node2vec
    amortizes it with per-EDGE alias tables (O(Σ d_u·d̄) memory),
    which is the right trade only when walks/node ≫ 1.  The frontier
    itself stays constant-size and each step is two equi-joins against
    the (bucketed) adjacency — cur's list and prev's list.
    """
    if min(ret_w, base_w, far_w) < 1:
        raise ValueError("bias weights must be >= 1 (total must stay positive)")
    und = _as_undirected(edges).distinct()
    adj = (
        und.groupBy("src")
        .agg(F.sort_array(F.collect_set("dst")).alias("nbrs"))
        .persist()
    )
    a_cur = adj.select(F.col("src").alias("__cs"), F.col("nbrs").alias("__cn"))
    a_prev = adj.select(F.col("src").alias("__ps"), F.col("nbrs").alias("__pn"))

    def pick(frontier: DataFrame, h: Column) -> DataFrame:
        weights = F.when(
            F.col("prev").isNull(),
            F.transform(F.col("__cn"), lambda x: F.lit(1).cast("long")),
        ).otherwise(
            F.transform(
                F.col("__cn"),
                lambda x: F.when(x == F.col("prev"), F.lit(ret_w))
                .when(F.array_contains(F.col("__pn"), x), F.lit(base_w))
                .otherwise(F.lit(far_w))
                .cast("long"),
            )
        )
        total = F.aggregate(weights, F.lit(0).cast("long"), lambda acc, x: acc + x)
        cum = F.transform(
            F.sequence(F.lit(1), F.size(weights)),
            lambda i: F.aggregate(
                F.slice(weights, 1, i), F.lit(0).cast("long"), lambda acc, x: acc + x
            ),
        )
        r = h % total
        idx = F.size(F.filter(cum, lambda c: c <= r)) + F.lit(1)
        # two-step select: computing the pick and renaming cur->prev in ONE
        # list would let Spark's lateral-column-alias resolution bind the
        # `prev` inside `weights` to the new alias instead of the input row
        return (
            frontier.join(a_cur, frontier["cur"] == a_cur["__cs"])
            .join(a_prev, frontier["prev"] == a_prev["__ps"], "left")
            .select(
                "start", "w", "cur",
                F.element_at(F.col("__cn"), idx).alias("__next"),
            )
            .select(
                "start",
                "w",
                F.col("cur").alias("prev"),
                F.col("__next").alias("cur"),
            )
        )

    return _walk(
        adj, walks_per_node, walk_length, pick,
        F.lit(None).cast("string").alias("prev"),
    )


def triangle_count(edges: DataFrame) -> int:
    """Number of triangles in the undirected graph.

    Canonicalize each edge to (min, max), then the classic two-join
    enumeration a<b<c — each triangle counted exactly once.  Shuffles:
    2 joins on node id; at scale pre-bucket the canonical edge table.
    """
    _, eh, tri = _triangles(edges)
    n = tri.count()
    eh.release()
    return n


def _triangles(
    edges: DataFrame,
) -> tuple[DataFrame, CheckpointHandle, DataFrame]:
    """The frozen canonical (a < b) edge table of ``edges``, its handle,
    and its triangles a < b < c (columns a, b, c, …) — each enumerated
    exactly once by two equi-joins."""
    e, eh = checkpoint_eager(
        _as_undirected(edges)
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    ab = e.select(F.col("a"), F.col("b"))
    bc = e.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    ac = e.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    return e, eh, ab.join(bc, ab["b"] == bc["b2"]).join(
        ac, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3"))
    )


def label_propagation(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 10
) -> DataFrame:
    """Community detection by synchronous label propagation.

    Each node adopts the most frequent label among its undirected
    neighbors (ties → smallest label, deterministic).  Fixed iteration
    count (LPA oscillates; GraphX's implementation is also fixed-iter).
    Returns (key, label).
    """
    # src-partitioned setup; repartition BEFORE distinct so the dedup
    # reuses the src exchange (subset rule) — one 2|E| shuffle, not
    # two.  Honesty note (r7): the checkpoint scans as
    # UnknownPartitioning, so per-round joins still re-exchange the
    # edge frame; sub-noise on the corpus graph, and partitioned_cache
    # is the measured fix if a big graph lands here (Louvain kernel).
    e, eh = checkpoint_eager(
        _as_undirected(edges)
        .repartition(_n_shuffle(edges), "src")
        .distinct()
    )
    labels, lh = checkpoint_eager(_keys(nodes).withColumn("label", F.col("key")))
    for _ in range(max_iter):
        msgs = (
            labels.join(e, labels["key"] == e["src"])
            .select(F.col("dst").alias("key"), "label")
        )
        votes = msgs.groupBy("key", "label").agg(F.count("*").alias("n"))
        mx = votes.groupBy("key").agg(F.max("n").alias("mx"))
        best = (
            votes.join(mx, "key")
            .filter(F.col("n") == F.col("mx"))
            .groupBy("key")
            .agg(F.min("label").alias("new_label"))  # ties → smallest label
        )
        labels, lh = _step(
            labels.join(best, "key", "left")
            .select(
                "key", F.coalesce(F.col("new_label"), F.col("label")).alias("label")
            ),
            lh,
        )
    eh.release()
    return labels


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """(key, rank) — PageRank with the restart mass concentrated on
    ``sources`` (single-column DataFrame) instead of spread uniformly:

        rank = (1-d)·restart(v) + d·Σ_{u→v} rank(u)/out_degree(u)

    where restart(v) = 1/|S| for source vertices, 0 elsewhere.  The
    stationary mass therefore measures proximity TO the sources — the
    standard "relatedness" primitive for seed-expansion (find processes
    most reachable from a known-bad seed set, docs related to a query
    set, etc.).

    Same execution shape as :func:`pagerank`: one co-partitioned
    join + one grouped sum per iteration; dangling mass is dropped (not
    redistributed), matching the GraphX ``personalizedPageRank``
    convention.  The Python oracle in tests mirrors this exactly.
    """
    e = edges.select("src", "dst")
    verts, vh = checkpoint_eager(_vertex_set(e, nodes))
    # restart mass is assigned to DISTINCT sources, so |S| must be the
    # distinct count too — a duplicated source row must not deflate the
    # restart vector below sum=1
    src_distinct, seen = _observing(_keys(sources), n=F.count(F.lit(1)))
    src_distinct, sh = checkpoint_eager(src_distinct)
    restart = src_distinct.withColumn(
        "restart", F.lit(1.0 / float(seen.get["n"]))
    )
    base, bh = _step(verts.join(restart, "key", "left").select(
        "key", F.coalesce(F.col("restart"), F.lit(0.0)).alias("restart")
    ), vh, sh)
    links, lh = _src_links(
        e, F.count("*").alias("out_degree"), F.col("out_degree")
    )
    return _power_iteration(
        links, lh, base, bh, F.col("restart"),
        F.col("rank") / F.col("out_degree"), iterations, damping,
    )


def sssp_weighted(
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str = "w",
    directed: bool = True,
    max_iter: int = 50,
    with_pred: bool = False,
) -> DataFrame:
    """(key, dist) — single-source shortest paths with non-negative edge
    weights, frontier-style Bellman-Ford:

    each round relaxes only edges out of vertices whose distance
    improved last round (the delta frontier), takes the min candidate
    per destination, and merges improvements into the distance table.
    Converges in ≤ longest-shortest-path-hops rounds; each round is one
    co-partitioned join + one grouped min (two shuffles).  Unlike
    Dijkstra there is no priority queue — the standard trade for a
    BSP/dataflow engine (Pregel SSSP), and exact for non-negative
    weights.  ``max_iter`` bounds adversarial inputs; negative weights
    are rejected (a negative cycle would never converge).

    ``with_pred=True`` adds a ``pred`` column — the parent on one
    shortest path, tie-broken by min parent key via a struct-min, so
    the shortest-path tree is deterministic.  At the fixpoint every
    pred edge is tight (dist[pred] + w == dist[key]): any later
    improvement of pred's own distance re-improves — and re-parents —
    the child.
    """
    dist, _ = _sssp(edges, sources, weight_col, directed, max_iter)
    return dist if with_pred else dist.select("key", "dist")


def _sssp(
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str,
    directed: bool,
    max_iter: int,
) -> tuple[DataFrame, CheckpointHandle]:
    w = F.col(weight_col).cast("double").alias("w")
    e = edges.select("src", "dst", w) if directed else _as_undirected(edges, w)
    e, neg = _observing(e, n=F.count_if(F.col("w") < 0))
    e, eh = checkpoint_eager(e)
    if neg.get["n"]:
        eh.release()
        raise ValueError("sssp_weighted requires non-negative weights")

    def candidates(frontier: DataFrame) -> DataFrame:
        return (
            frontier.join(e, frontier["key"] == e["src"])
            .select(
                F.col("dst").alias("key"),
                (F.col("dist") + F.col("w")).alias("cand"),
                frontier["key"].alias("parent"),
            )
            .groupBy("key")
            # struct-min: least candidate distance, then least parent key
            .agg(F.min(F.struct("cand", "parent")).alias("m"))
            .select(
                "key", F.col("m.cand").alias("cand"), F.col("m.parent").alias("pred")
            )
        )

    return _relax(
        e, eh,
        _keys(sources)
        .withColumn("dist", F.lit(0.0))
        .withColumn("pred", F.lit(None).cast(e.schema["src"].dataType)),
        "dist", candidates, max_iter,
    )


def _relax(
    e: DataFrame,
    eh: CheckpointHandle,
    seeds: DataFrame,
    value: str,
    candidates,
    max_iter: int,
) -> tuple[DataFrame, CheckpointHandle]:
    """The delta-relaxation loop over state (key, ``value``, ...) from
    ``seeds``: each round, the rows of ``candidates(frontier)`` (key,
    cand, ...) that beat ``value`` or are new are frozen as the next
    frontier and anti-join-merged into the state, until none improves
    (counted in that freeze).  Releases ``eh``; returns the state and
    its handle."""
    state, sh = checkpoint_eager(seeds)
    frontier, fh = state, None
    for _ in range(max_iter):
        cand = candidates(frontier)
        carry = [c for c in cand.columns if c not in ("key", "cand")]
        improved, seen = _observing(
            cand.join(state.select("key", value), "key", "left")
            .filter(F.col(value).isNull() | (F.col("cand") < F.col(value)))
            .select("key", F.col("cand").alias(value), *carry),
            n=F.count(F.lit(1)),
        )
        improved, ih = checkpoint_eager(improved)
        if seen.get["n"] == 0:
            ih.release()
            break
        state, sh = _step(
            state.join(improved.select("key"), "key", "left_anti")
            .unionByName(improved),
            sh, fh,
        )
        frontier, fh = improved, ih
    _release(eh, fh)
    return state, sh


def sssp_weighted_paths(
    edges: DataFrame,
    sources: DataFrame,
    targets: DataFrame | None = None,
    weight_col: str = "w",
    directed: bool = True,
    max_iter: int = 50,
) -> DataFrame:
    """(key, dist, path) — weighted shortest paths WITH reconstruction:
    :func:`sssp_weighted`'s predecessor tree + the level-synchronous
    backtrace of :func:`_backtrace_paths`.  ``targets`` limits path
    materialization (Σ|path| bytes is the real cost at scale).  Caveat:
    zero-weight cycles can make the pred forest cyclic; the backtrace
    round bound cuts such walks rather than looping forever."""
    return _paths_of(
        *_sssp(edges, sources, weight_col, directed, max_iter), targets
    )


def k_truss(edges: DataFrame, k: int, max_iter: int = 30) -> DataFrame:
    """(src, dst) — edges of the k-truss: the maximal subgraph in which
    every edge participates in ≥ k-2 triangles (undirected, simple).

    Iterative peel, the truss analogue of :func:`k_core`: per round,
    count each surviving edge's triangle support with two hash joins
    over the canonical (lo<hi) edge list, drop edges below k-2, repeat
    to a fixed point.  Support counting is the standard
    node-iterator join (adjacency ⋈ adjacency on the shared endpoint,
    then a semi-join back onto the edge list); every step is a shuffle
    join Catalyst plans — no driver-side adjacency.  Rounds are bounded
    by the peeling depth.  Returns canonical src < dst pairs.
    """
    canon, seen = _observing(
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        n=F.count(F.lit(1)),
    )
    canon, ch = checkpoint_eager(canon)

    def keep_of(canon: DataFrame) -> DataFrame:
        # adjacency both ways: wedge (a<b, b<c) centered anywhere
        und = _as_undirected(canon)
        # triangle (u,v,w): for edge (u,v), count common neighbors w
        a = und.select(F.col("src").alias("u"), F.col("dst").alias("w"))
        b = und.select(F.col("src").alias("v"), F.col("dst").alias("w2"))
        support = (
            canon.join(a, canon["src"] == a["u"])
            .join(b, (canon["dst"] == b["v"]) & (F.col("w") == F.col("w2")))
            .groupBy(canon["src"], canon["dst"])
            .agg(F.count("*").alias("support"))
        )
        return (
            canon.join(support, ["src", "dst"], "left")
            .filter(F.coalesce(F.col("support"), F.lit(0)) >= k - 2)
            .select("src", "dst")
        )

    truss, th, _ = _shrink(canon, ch, seen.get["n"], keep_of, max_iter)
    _release(ch if th is not ch else None)
    return truss


def temporal_bfs(
    edges: DataFrame,
    sources: DataFrame,
    time_col: str = "t",
    max_iter: int = 50,
) -> DataFrame:
    """(key, earliest) — earliest-arrival reachability over a temporal
    graph: a path is valid only if edge timestamps are non-decreasing
    along it (you can't ride an edge that fired before you arrived).

    The fixpoint state is the earliest arrival time per vertex; each
    round relaxes only edges out of vertices improved last round, with
    the constraint ``edge.t >= arrival(src)``, candidate arrival =
    ``edge.t``.  This is the standard time-respecting-path semantics
    (Holme & Saramäki, "Temporal networks") that plain BFS gets wrong —
    reachability through a node depends on WHEN you got there.
    Sources start at arrival −∞ (they can take any first edge).
    Same execution shape as :func:`sssp_weighted`: one co-partitioned
    join + one grouped min per round.
    """
    e, eh = checkpoint_eager(
        edges.select("src", "dst", F.col(time_col).cast("long").alias("t"))
    )

    def candidates(frontier: DataFrame) -> DataFrame:
        return (
            frontier.join(e, frontier["key"] == e["src"])
            .filter(F.col("t") >= F.col("earliest"))
            .select(F.col("dst").alias("key"), F.col("t").alias("cand"))
            .groupBy("key")
            .agg(F.min("cand").alias("cand"))
        )

    return _relax(
        e, eh,
        _keys(sources)
        .withColumn("earliest", F.lit(-(1 << 62)).cast("long")),
        "earliest", candidates, max_iter,
    )[0]


def closeness_approx(
    nodes: DataFrame,
    edges: DataFrame,
    n_samples: int = 8,
    max_hops: int = 32,
    directed: bool = True,
) -> DataFrame:
    """(key, closeness) — pivot-sampled harmonic closeness centrality:

        closeness(v) = Σ_pivots 1/dist(pivot → v), scaled by V/k

    (harmonic form, Boldi & Vigna "Axioms for centrality": sums of
    reciprocal distances handle disconnected graphs without the ∞-mean
    problem of classic closeness).  Pivots are the ``n_samples``
    smallest md5(key) vertices — deterministic and reproducible, the
    same convention as :func:`betweenness_approx`.  Cost is one
    multi-source-tagged BFS per pivot, each O(diameter) join/agg
    rounds; the reciprocal-distance sum accumulates in a (key, pivot)
    long table folded once at the end, so per-round state is one
    frontier DataFrame.
    """
    # the returned frame reads verts
    verts, _, n_vertices, pivots = _pivots(nodes, n_samples)
    spark = edges.sparkSession
    e, eh = checkpoint_eager(
        edges.select("src", "dst") if directed else _as_undirected(edges)
    )
    visited = _tagged_sweep(
        e, spark.createDataFrame([(p,) for p in pivots], ["pivot"]), max_hops
    )
    eh.release()
    scale = float(n_vertices) / float(len(pivots)) if pivots else 0.0
    summed = (
        visited.filter(F.col("dist") > 0)
        .groupBy("key")
        .agg((F.sum(F.lit(1.0) / F.col("dist")) * F.lit(scale)).alias("closeness"))
    )
    return verts.join(summed, "key", "left").select(
        "key", F.coalesce(F.col("closeness"), F.lit(0.0)).alias("closeness")
    )


def _tagged_sweep(
    e: DataFrame, pivots: DataFrame, max_hops: int, *done: CheckpointHandle
) -> DataFrame:
    """(pivot, key, dist) — ONE BFS from every ``pivots`` row, its
    frontier rows tagged with their pivot so all sweeps advance
    together: k× fewer rounds/jobs than looping pivots.  The visited
    set is re-frozen every round (a float sum over it keeps its
    layout); a round that reaches nothing new (counted in its freeze)
    ends the sweep.  ``done`` are released once the seeds are
    frozen."""
    visited, vh = _step(
        pivots.select("pivot", F.col("pivot").alias("key"))
        .withColumn("dist", F.lit(0)),
        *done,
    )
    frontier, fh = visited, None
    for hop in range(1, max_hops + 1):
        nxt, seen = _observing(
            frontier.join(e, frontier["key"] == e["src"])
            .select("pivot", F.col("dst").alias("key"))
            .distinct()
            .join(visited.select("pivot", "key"), ["pivot", "key"], "left_anti")
            .withColumn("dist", F.lit(hop)),
            n=F.count(F.lit(1)),
        )
        nxt, nh = checkpoint_eager(nxt)
        if seen.get["n"] == 0:
            nh.release()
            break
        visited, vh = _step(visited.unionByName(nxt), vh, fh)
        frontier, fh = nxt, nh
    _release(fh)
    return visited


def pagerank_weighted(
    edges: DataFrame,
    weight_col: str = "w",
    iterations: int = 10,
    damping: float = 0.85,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """(key, rank) — PageRank over WEIGHTED edges: a vertex splits its
    rank across out-edges proportionally to edge weight
    (contribution = rank · w/Σ_out w) instead of uniformly.  The
    natural formulation for co-occurrence / co-purchase graphs where
    edge multiplicity is signal.  Same execution shape as
    :func:`pagerank`: the weighted out-degree joins once up front, then
    one co-partitioned join + grouped sum per iteration.
    """
    w = F.col(weight_col).cast("double")
    e = edges.select("src", "dst", w.alias("w")).filter(F.col("w") > 0)
    verts, vh = checkpoint_eager(_vertex_set(e, nodes))
    links, lh = _src_links(
        e, F.sum("w").alias("out_w"), (F.col("w") / F.col("out_w")).alias("frac")
    )
    return _power_iteration(
        links, lh, verts, vh, F.lit(1.0),
        F.col("rank") * F.col("frac"), iterations, damping,
    )


def densest_subgraph(
    edges: DataFrame, epsilon: float = 0.1, max_iter: int = 50
) -> tuple[DataFrame, float]:
    """(vertices DataFrame, density) — greedy densest-subgraph
    2(1+ε)-approximation (Bahmani, Kumar & Vassilvitskii, "Densest
    Subgraph in Streaming and MapReduce", VLDB 2012):

    repeat: compute average degree ρ of the current subgraph; remove
    EVERY vertex with degree ≤ (1+ε)·ρ at once; keep the iterate with
    the best density seen.  Each round is one degree aggregation + two
    semi-joins, and the vertex set shrinks geometrically — O(log n)
    rounds total, the property that makes this THE dataflow-friendly
    densest-subgraph algorithm (sequential Charikar peeling is O(n)
    rounds).  Undirected simple graph; density = |E|/|V|.

    Driver actions per round: ONE combined (|V|, Σdeg) aggregate over
    the degree table (|E| = Σdeg/2 by the handshake lemma) — no
    separate edge count / vertex count / emptiness probe.
    """
    cur_edges, ch = checkpoint_eager(
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    best_verts: DataFrame | None = None
    bh = None
    best_density = -1.0
    for _ in range(max_iter):
        deg, dh = checkpoint_eager(
            cur_edges.select(F.col("src").alias("key"))
            .unionByName(cur_edges.select(F.col("dst").alias("key")))
            .groupBy("key")
            .agg(F.count("*").alias("deg"))
        )
        stats = deg.agg(
            F.count("*").alias("n_v"), F.sum("deg").alias("sum_deg")
        ).head()
        n_v = stats["n_v"]
        if not n_v:
            dh.release()
            break
        n_e = int(stats["sum_deg"]) // 2  # handshake lemma
        density = n_e / n_v
        if density > best_density:
            best_density = density
            _release(bh)
            best_verts, bh = deg.select("key"), dh
        threshold = (1.0 + epsilon) * 2.0 * density  # avg degree = 2|E|/|V|
        # peel: strictly fewer vertices survive every round (not every
        # degree can exceed (1+eps) x the average), so an empty keep set
        # simply yields an empty degree table next round
        keep, kh = checkpoint_eager(
            deg.filter(F.col("deg") > threshold).select("key")
        )
        cur_edges, ch = _step(
            _induced(cur_edges, keep), ch, kh, None if dh is bh else dh
        )
    ch.release()
    if best_verts is None:
        spark = edges.sparkSession
        return spark.createDataFrame([], "key string"), 0.0
    return best_verts, best_density


def four_clique_count(edges: DataFrame) -> DataFrame:
    """Number of 4-cliques in the undirected graph as a 1-row DataFrame
    ``(n_4cliques)`` — the next motif up from `triangle_count` (dense
    community / collusion detection).

    Canonical orientation a<b<c<d makes every clique enumerate exactly
    once and keeps each join a strictly-growing equi-join (the ordered
    orientation is the same trick worst-case-optimal engines use to cut
    the search space; at scale, orienting by DEGREE order instead of id
    order further caps the fan-out of hub nodes).  Shape: triangle
    enumeration (2 joins) + one extension join checking the 3 closing
    edges — all equi-joins on node ids over one canonical edge table,
    which AQE can broadcast when the graph is small and which should be
    pre-bucketed by src at 100 TB.
    """
    e, _, tri = _triangles(edges)  # the returned frame reads e
    tri = tri.select("a", "b", "c")
    # broadcast the (small) canonical edge table into every extension
    # join: the HUGE side is the triangle/extension intermediate, and
    # broadcasting e means it streams through build-side hash joins
    # without ever shuffling (at true scale switch to bucketed e)
    ad = F.broadcast(e.select(F.col("a").alias("a4"), F.col("b").alias("d")))
    bd = F.broadcast(e.select(F.col("a").alias("b5"), F.col("b").alias("d5")))
    cd = F.broadcast(e.select(F.col("a").alias("c6"), F.col("b").alias("d6")))
    return (
        tri.join(ad, (F.col("a") == F.col("a4")) & (F.col("c") < F.col("d")))
        .join(bd, (F.col("b") == F.col("b5")) & (F.col("d") == F.col("d5")))
        .join(cd, (F.col("c") == F.col("c6")) & (F.col("d") == F.col("d6")))
        .agg(F.count("*").cast("bigint").alias("n_4cliques"))
    )


def butterfly_count(edges: DataFrame, hub_cap: int | None = None) -> DataFrame:
    """Bipartite 4-cycle ("butterfly") count as a 1-row DataFrame
    ``(n_butterflies, copart_pairs)`` — the bipartite analogue of
    :func:`triangle_count` (Sanei-Mehri, Sariyüce & Tirthapura, KDD
    2018: "Butterfly Counting in Bipartite Networks").

    ``edges`` is a bipartite edge list ``(src, dst)`` (e.g. supplier →
    part).  A butterfly is two left vertices sharing two right
    vertices; counting goes through WEDGES: for every right vertex,
    enumerate left-pairs that share it, aggregate the pair-overlap
    ``n``, and sum ``C(n, 2)`` — never materializing 4-tuples.  All
    arithmetic is exact bigint.

    Scale shape: the wedge enumeration is quadratic in each right
    vertex's degree, so at 100 TB pick the side with the smaller
    sum-of-degree-squares as the pivot and cap runaway hubs —
    ``hub_cap`` drops right vertices with degree above the cap (the
    same df-cap idea as ``ngram_jaccard_pairs``; a vertex connected to
    everything contributes no discriminative structure, only O(d²)
    wedges).  One distinct + one self-join on the pivot key + two
    hash-aggs; the per-pair aggregate is map-side combinable.
    """
    e = edges.select("src", "dst").distinct()
    if hub_cap is not None:
        deg = e.groupBy("dst").agg(F.count("*").alias("d"))
        keep = deg.filter(F.col("d") <= hub_cap).select("dst")
        e = e.join(F.broadcast(keep), "dst", "left_semi")
    a = e.select(F.col("src").alias("u"), "dst")
    b = e.select(F.col("src").alias("v"), "dst")
    pair_overlap = (
        a.join(b, "dst")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    return pair_overlap.agg(
        F.sum(F.expr("(n * (n - 1)) div 2")).cast("bigint").alias("n_butterflies"),
        F.count("*").cast("bigint").alias("copart_pairs"),
    )


def minimum_spanning_forest(
    edges: DataFrame,
    weight_col: str = "w",
    max_iter: int = 25,
) -> DataFrame:
    """Minimum spanning forest via distributed Borůvka — ``(u, v, w)``
    forest edges (one tree per connected component).

    Borůvka is THE MST algorithm that parallelizes: every round, each
    component picks its minimum-weight outgoing edge (all components at
    once — two joins + one min-by aggregate), the chosen edges merge
    components, repeat; components at least halve per round, so O(log
    n) rounds.  Contraction uses
    :func:`connected_components_twophase` on the component graph
    (itself O(log n), diameter-independent), never touching the full
    edge list.

    Ties are broken by the global total order ``(w, u, v)`` —
    equivalent to perturbing weights to distinctness, so the forest is
    deterministic and its total weight is the (unique) MST weight.
    Weights compare as-is; pass exact integers for cross-engine
    determinism.

    Scale shape: per round, one join of the edge list against the
    (shrinking) label table + a map-side-combinable min-by per
    component; the label table is the only state.  At 100 TB bucket
    the edge list by src so the label joins co-locate.
    """
    e = (
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            F.col(weight_col).alias("w"),
        )
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
    )
    e, eh = checkpoint_eager(e)
    labels, lh = checkpoint_eager(
        e.select(F.col("u").alias("key"))
        .unionByName(e.select(F.col("v").alias("key")))
        .distinct()
        .withColumn("c", F.col("key"))
    )
    spark = edges.sparkSession
    forest, fh = checkpoint_eager(spark.createDataFrame([], e.schema))
    for _ in range(max_iter):
        el = (
            e.join(labels.select(F.col("key").alias("u"), F.col("c").alias("cu")), "u")
            .join(labels.select(F.col("key").alias("v"), F.col("c").alias("cv")), "v")
            .filter(F.col("cu") != F.col("cv"))
        )
        pick = F.struct("w", "u", "v", "cu", "cv")
        cand = el.select(F.col("cu").alias("component"), pick.alias("s")).unionByName(
            el.select(F.col("cv").alias("component"), pick.alias("s"))
        )
        chosen, picked = _observing(
            cand.groupBy("component")
            .agg(F.min("s").alias("s"))
            .select("s.u", "s.v", "s.w", "s.cu", "s.cv"),
            n=F.count(F.lit(1)),
        )
        chosen, chh = checkpoint_eager(chosen)
        if picked.get["n"] == 0:
            chh.release()
            break
        forest, fh = _step(forest.unionByName(
            chosen.select("u", "v", "w").distinct()
        ), fh)
        # contract the component graph (two-phase: O(log n) rounds even
        # for chain-shaped merge patterns)
        cedges = chosen.select(F.col("cu").alias("src"), F.col("cv").alias("dst"))
        cnodes = labels.select(F.col("c").alias("key")).distinct()
        cmap, mh = _connected_components_twophase(cnodes, cedges)
        labels, lh = _step(
            labels.join(
                cmap.select(F.col("key").alias("c"), F.col("component").alias("c_new")),
                "c", "left",
            )
            .select("key", F.coalesce(F.col("c_new"), F.col("c")).alias("c")),
            lh, chh, mh,
        )
    _release(eh, lh)
    return forest


def shortest_path_bidirectional(
    edges: DataFrame,
    src_key: str,
    dst_key: str,
    directed: bool = True,
    max_hops: int = 64,
) -> list | None:
    """The actual shortest path ``[src, ..., dst]`` between two keys
    via meet-in-the-middle BFS with PATH RECONSTRUCTION — the scale
    plan for two-pinned-endpoint ``shortestPath`` queries: each side
    explores ~b^(d/2) nodes (square-root frontiers and shuffles vs a
    one-sided BFS's b^d), and BOTH sides keep a predecessor forest so
    the answer is spliced from two backtraces at the meet frontier
    instead of re-running a full BFS.

    Deterministic end to end: each side's predecessor is the min
    frontier key among equal-distance parents (same rule as
    :func:`bfs_tree`), the meet node is the min key among the visited-
    set intersection realizing the optimal distance, and the expansion
    schedule (always the smaller frontier) depends only on the data.
    Level-synchronous and exact: each round expands one side by one
    hop (forward over ``src→dst``, backward over the reversed edges),
    records the best meeting distance ``min(dist_f + dist_b)`` over the
    visited-set intersection, and stops once ``depth_f + depth_b >=
    best`` — no shorter crossing can still appear.  Each side's
    frontier size — which side expands next, and whether it is
    exhausted — is counted in its level's freeze.  Hop-distance
    equality with networkx and path validity are pinned in
    tests/test_traversal.py.
    """
    if src_key == dst_key:
        return [src_key]
    spark = edges.sparkSession
    e = edges.select("src", "dst") if directed else _as_undirected(edges)
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    key_t = e.schema["src"].dataType

    def new_side(key):
        return {**_tree_side(
            spark.createDataFrame([(key, 0)], ["key", "dist"])
            .select(F.col("key").cast(key_t).alias("key"), "dist")
            .withColumn("pred", F.lit(None).cast(key_t))
        ), "size": 1}

    fwd, bwd = new_side(src_key), new_side(dst_key)
    best: int | None = None
    for _ in range(2 * max_hops):
        # expand the cheaper side (smaller frontier) one level; a side
        # whose last level reached nothing (size 0) is exhausted
        side, graph = (
            (fwd, e)
            if not bwd["size"] or 0 < fwd["size"] <= bwd["size"]
            else (bwd, rev)
        )
        if not side["size"]:
            break
        side["size"] = _grow_tree(side, graph)
        if not fwd["size"] and not bwd["size"]:
            break
        meet = (
            fwd["visited"].alias("f")
            .join(bwd["visited"].alias("b"), "key")
            .agg(F.min(F.col("f.dist") + F.col("b.dist")).alias("d"))
            .head()["d"]
        )
        if meet is not None:
            best = meet if best is None else min(best, meet)
        # no shorter crossing can appear once the combined reached depth
        # meets the best known distance
        if best is not None and fwd["depth"] + bwd["depth"] >= best:
            break
    path = None
    if best is not None and best <= max_hops:
        # deterministic meet node: min key realizing the optimal crossing
        meet_key = (
            fwd["visited"].alias("f")
            .join(bwd["visited"].alias("b"), "key")
            .filter(F.col("f.dist") + F.col("b.dist") == F.lit(best))
            .orderBy("key")
            .select("key")
            .head()["key"]
        )
        meet_df = spark.createDataFrame([(meet_key,)], ["key"]).select(
            F.col("key").cast(key_t).alias("key")
        )
        halves = []  # [src .. meet], then [dst .. meet]: bwd is rooted at dst
        for side in (fwd, bwd):
            # a predecessor tree of depth d has no chain longer than d
            # links, so the side's depth bounds its backtrace: no
            # whole-tree count needed
            paths, ph = _backtrace_paths(
                side["visited"], targets=meet_df, max_rounds=side["depth"] + 1
            )
            halves.append(list(paths.head()["path"]))
            ph.release()
        path = halves[0] + halves[1][-2::-1]
    _release(fwd["vh"], fwd["fh"], bwd["vh"], bwd["fh"])
    return path


def hyperball(
    edges: DataFrame,
    max_iters: int = 32,
    directed: bool = False,
) -> list[dict]:
    """Neighborhood function N(t) via HyperBall (Boldi & Vigna,
    "In-Core Computation of Geometric Centralities with HyperBall",
    2013): one m=256 HLL counter per node, grown by taking the
    register-wise MAX over neighbours each round — N(t) = Σ_v |B(v,t)|
    estimated in O(t_max) relational passes instead of n BFS runs.

    State is the NARROW mergeable form ``(key, bucket, reg)`` — n×m
    rows, never a wide 256-column aggregate — so every round is one
    equi-join (edges × changed registers) plus one map-side-combining
    ``groupBy(key, bucket).max(reg)``.  Semi-naive: only registers that
    INCREASED last round are re-propagated (max is idempotent, so the
    delta frontier is sufficient, mirroring :func:`bfs`).  Shuffle per
    round carries (key, bucket, reg) triples only; the per-round freeze
    truncates lineage exactly like the other iterative operators.

    Returns one dict per completed radius t (t=0 is the singleton
    ball): ``{"t", "n_nodes", "sum_reg", "sum_harmonic", "est_nf"}``.
    ``sum_harmonic`` (Σ_v of the per-node exact-integer harmonic
    numerator) and ``sum_reg`` are EXACT integers — the bit-identical
    convergence/replica gate; ``est_nf`` = Σ_v est|B(v,t)| applies the
    same bias-corrected estimate as :func:`sketch.hll_estimate_from_registers`
    per node.  The effective diameter at fraction α is the smallest t
    with est_nf(t) ≥ α·est_nf(∞); see :func:`effective_diameter`.

    Reference parity: the reference engine exposes no distance-
    distribution operator at all (`/root/reference/events.py` is a
    loader); this is part of the analytics extension surface
    (SURVEY.md §2.D components/centralities row).
    """
    from graphdb_neo4j_spark.operators.sketch import (
        _HLL_LINEAR_MAX,
        _HLL_M,
        _HLL_NUM,
        _HLL_RHO_CAP,
        hll_bucket_rho,
    )

    e = edges.select("src", "dst") if directed else _as_undirected(edges)
    e, eh = checkpoint_eager(e.distinct())
    nodes = _vertex_set(e, None)
    bucket, rho = hll_bucket_rho(F.col("key"))
    state, sh = checkpoint_eager(nodes.select("key", bucket, rho.alias("reg")))
    frontier, fh = state, None

    def _nf_row(st: DataFrame):
        # one action: per-node harmonic fold, then the global roll-up
        per_node = st.groupBy("key").agg(
            F.count("*").alias("n_buckets"),
            F.sum(
                F.expr(f"CAST(1 AS BIGINT) << ({_HLL_RHO_CAP} - reg)")
            ).alias("s_obs"),
            F.sum("reg").alias("reg_sum"),
        )
        zeros = F.lit(_HLL_M) - F.col("n_buckets")
        s_num = F.col("s_obs") + zeros * F.lit(1 << _HLL_RHO_CAP)
        raw = F.lit(_HLL_NUM) / s_num.cast("double")
        est = F.when(
            (raw <= F.lit(_HLL_LINEAR_MAX)) & (zeros > 0),
            F.lit(float(_HLL_M))
            * F.log(F.lit(float(_HLL_M)) / zeros.cast("double")),
        ).otherwise(raw)
        row = per_node.select(
            # per-node numerator is ≈ m·2^cap ≈ 2^58 — the GLOBAL sum
            # overflows int64 past ~1k nodes, so it rides as
            # decimal(38,0): still exact integer arithmetic
            s_num.cast("decimal(38,0)").alias("s_num"),
            est.alias("est"),
            F.col("reg_sum"),
        ).agg(
            F.count("*").alias("n_nodes"),
            F.sum("reg_sum").alias("sum_reg"),
            F.sum("s_num").alias("sum_harmonic"),
            F.sum("est").alias("est_nf"),
        ).head()
        return {
            "n_nodes": int(row["n_nodes"]),
            "sum_reg": int(row["sum_reg"]),
            "sum_harmonic": int(row["sum_harmonic"]),
            "est_nf": float(row["est_nf"]),
        }

    out = [{"t": 0, **_nf_row(state)}]
    for t in range(1, max_iters + 1):
        # explicit renames on both sides: at t=1 ``frontier`` IS
        # ``state`` (same checkpointed plan), and a using-column
        # self-join on shared attribute ids trips Spark's checkpoint
        # constraint propagation (NoSuchElementException: key not found)
        fr = frontier.select(
            F.col("key").alias("f_key"),
            F.col("bucket").alias("f_bucket"),
            F.col("reg").alias("f_reg"),
        )
        cand = (
            e.join(fr, e["dst"] == fr["f_key"])
            .groupBy(
                F.col("src").alias("key"), F.col("f_bucket").alias("bucket")
            )
            .agg(F.max("f_reg").alias("reg"))
        )
        old = state.select(
            F.col("key").alias("s_key"),
            F.col("bucket").alias("s_bucket"),
            F.col("reg").alias("old"),
        )
        improved, ih = checkpoint_eager(
            cand.join(
                old,
                (cand["key"] == old["s_key"])
                & (cand["bucket"] == old["s_bucket"]),
                "left",
            )
            .filter(F.col("old").isNull() | (F.col("reg") > F.col("old")))
            .select("key", "bucket", "reg")
        )
        if improved.isEmpty():
            ih.release()
            break
        state, sh = _step(
            state.unionByName(improved)
            .groupBy("key", "bucket")
            .agg(F.max("reg").alias("reg")),
            sh, fh,
        )
        frontier, fh = improved, ih
        out.append({"t": t, **_nf_row(state)})
    _release(eh, sh, fh)
    return out


def effective_diameter(nf: list[dict], alpha: float = 0.9) -> int:
    """Smallest t whose estimated neighborhood function reaches
    ``alpha`` of the final (converged) value — HyperBall's effective-
    diameter readout.  ``nf`` is :func:`hyperball` output."""
    target = alpha * nf[-1]["est_nf"]
    for row in nf:
        if row["est_nf"] >= target:
            return int(row["t"])
    return int(nf[-1]["t"])


def modularity(
    edges: DataFrame,
    assign: DataFrame,
    key_col: str = "key",
    community_col: str = "community",
) -> DataFrame:
    """Newman modularity of a community assignment, per community:
    ``Q_c = L_c/m − (D_c/2m)²`` with L_c = intra-community edges,
    D_c = degree mass, m = |E| — Q = Σ_c Q_c (Newman & Girvan 2004).
    The quality readout for ANY community operator here (LPA, HashMin
    components, label joins).

    Fully relational — canonicalize+dedup edges, two broadcast-able
    joins against the assignment, two narrow aggregates, and the m
    scalar rides a 1×1 cross join so the whole metric stays one plan
    (no driver round-trip).  Shuffles carry (community) keyed rows
    only.  ``contribution`` is rounded to 8dp with a fixed expression
    order so a SQL oracle reproduces the doubles bit-for-bit."""
    e = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    a = assign.select(
        F.col(key_col).alias("k"), F.col(community_col).alias("c")
    ).distinct()
    m_agg = e.agg(F.count("*").cast("bigint").alias("m"))

    internal = (
        e.join(a.withColumnRenamed("k", "a").withColumnRenamed("c", "ca"), "a")
        .join(a.withColumnRenamed("k", "b").withColumnRenamed("c", "cb"), "b")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count("*").cast("bigint").alias("internal_edges"))
    )
    deg = (
        e.select(F.col("a").alias("k"))
        .unionByName(e.select(F.col("b").alias("k")))
        .groupBy("k")
        .agg(F.count("*").alias("deg"))
    )
    dsum = (
        deg.join(a, "k")
        .groupBy(F.col("c").alias("community"))
        .agg(F.sum("deg").cast("bigint").alias("degree_sum"))
    )
    md = F.col("m").cast("double")
    contrib = F.round(
        F.col("internal_edges").cast("double") / md
        - (F.col("degree_sum").cast("double") * F.col("degree_sum").cast("double"))
        / (F.lit(4.0) * md * md),
        8,
    )
    return (
        dsum.join(internal, "community", "left")
        .withColumn("internal_edges", F.coalesce("internal_edges", F.lit(0).cast("bigint")))
        .crossJoin(m_agg)
        .select(
            "community",
            "internal_edges",
            "degree_sum",
            contrib.alias("contribution"),
        )
    )


def hits(
    edges: DataFrame,
    iters: int = 3,
    scale: int = 10**12,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg, JACM 1999) in EXACT
    fixed-point integer arithmetic — hash-gateable like q105's PageRank.

    Per iteration: authority(v) = Σ hub(u) over in-edges, hub(u) =
    Σ authority(v) over out-edges, each renormalized by the QUANTIZED
    L1 norm ``max(1, total DIV scale)`` with integer DIV (the classic
    L2 norm is irrational, and an exact ``raw*scale/total`` overflows
    bigint — dividing by the quantized norm keeps every intermediate a
    bigint while both engines reproduce the numbers bit-for-bit).

    Returns (v, hub, authority) for every node; nodes with no out-edges
    have hub 0, no in-edges authority 0 (never NULL).

    100 TB shape: the score vectors co-partition with the edge list on
    the join key — two shuffles per iteration (one per direction), both
    map-side pre-aggregated; each iteration ends in a freeze to
    truncate lineage (same discipline as :func:`pagerank`).
    """
    if iters < 1:
        raise ValueError(f"hits() needs iters >= 1, got {iters}")
    e, eh = checkpoint_eager(edges.select("src", "dst").distinct())
    nodes, _ = checkpoint_eager(  # the returned frame reads it
        e.select(F.col("src").alias("v"))
        .union(e.select(F.col("dst").alias("v")))
        .distinct()
    )
    def renorm(scores: DataFrame, frm: str, to: str, out: str) -> DataFrame:
        # ``out`` per node: Σ ``scores`` over edges frm→to, renormalized
        raw = (
            e.join(scores, scores["v"] == e[frm])
            .groupBy(F.col(to).alias("sv"))
            .agg(F.sum(scores.columns[1]).alias("raw"))
        )
        tot = raw.agg(F.sum("raw").alias("tot"))
        return (
            nodes.join(raw, nodes["v"] == raw["sv"], "left")
            .crossJoin(tot)  # 1x1 scalar join, broadcast by AQE
            .select(
                "v",
                F.expr(
                    f"COALESCE(raw, 0) DIV "
                    f"GREATEST(CAST(1 AS BIGINT), tot DIV CAST({scale} AS BIGINT))"
                )
                .cast("bigint")
                .alias(out),
            )
        )

    h, hh = nodes.withColumn("h", F.lit(int(scale)).cast("bigint")), None
    a, ah = None, None
    for _ in range(iters):
        a, ah = _step(renorm(h, "src", "dst", "a"), ah)
        h, hh = _step(renorm(a, "dst", "src", "h"), hh)
    eh.release()
    return (
        nodes.join(h, "v", "left")
        .join(a, "v", "left")
        .select(
            "v",
            F.coalesce("h", F.lit(0)).cast("bigint").alias("hub"),
            F.coalesce("a", F.lit(0)).cast("bigint").alias("authority"),
        )
    )


def louvain_undirected_edges(
    edges: DataFrame,
    edges_distinct: bool = False,
) -> DataFrame:
    """The undirected weighted ``(src, dst, w)`` frame
    :func:`louvain_one_level` consumes, in the per-round join layout:
    both orientations, self-loops dropped, hash-partitioned on ``dst``
    (``spark.sql.shuffle.partitions``) — exactly what the kernel built
    internally before r11.  Exposed so a caller that runs Louvain over
    a long-lived edge cache can pay the 2|E| repartition+sort+encode
    ONCE (e.g. at cache-build time) and pass the persisted result back
    with ``prepartitioned=True``; the caller owns ``persist()`` /
    ``unpersist()`` and must apply ``sortWithinPartitions("dst")``
    implicitly via this function's output (it is the terminal op here,
    so persisting the returned frame captures the layout metadata).

    ``edges_distinct=True``: caller promises DISTINCT undirected pairs
    (e.g. a support-aggregated co-occurrence table: one row per
    (src<dst) pair), so both orientations are distinct by construction
    and the dedup aggregate would be an identity hash-agg over 2|E|
    groups (r10: ~2/3 of the one-off edge-build exec on the copurchase
    graph).  Emit ``w=1`` directly; the repartition still pins
    hashpartitioning(dst)."""
    und = (
        _as_undirected(edges.select("src", "dst"))
        .filter(F.col("src") != F.col("dst"))
        .repartition(_n_shuffle(edges), "dst")
    )
    if edges_distinct:
        und = und.select(
            "src", "dst", F.lit(1).cast("bigint").alias("w")
        )
    else:
        # repartition on dst FIRST: hashpartitioning(dst) satisfies the
        # dedup groupBy's (dst, src) clustering (subset rule), so the
        # dedup reuses the exchange — one 2|E| shuffle total
        und = (
            und.groupBy("dst", "src")
            .agg(F.lit(1).cast("bigint").alias("w"))
            .select("src", "dst", "w")
        )
    return und.sortWithinPartitions("dst")


def louvain_one_level(
    edges: DataFrame,
    max_iter: int = 8,
    edges_distinct: bool = False,
    prepartitioned: bool = False,
) -> DataFrame:
    """One level of Louvain community detection (Blondel et al. 2008)
    by distributed local moving — returns ``(v, community)``.

    Each round, every node inspects its neighbors' communities and
    moves to the one with the best modularity gain.  The gain
    comparison is EXACT integer arithmetic: for candidate community C,
    ΔQ(v→C) ∝ 2m·k_{v→C} − deg(v)·tot(C∖v), all bigints, tie-broken by
    smallest community id — so the assignment is deterministic across
    runs and partitionings.  Moves apply semi-synchronously: a node
    moves only on rounds matching its hash parity (the standard
    distributed-Louvain guard against two-coloring oscillation, e.g.
    GraphX/Grappolo practice), and the loop stops early when a round
    moves nothing.

    100 TB shape per round: one join edge×assignment (shuffle on the
    edge key), one (v, C) hash-agg, one community-degree hash-agg
    (broadcast back — #communities ≤ #nodes and shrinks fast), one
    argmax per node via max_by.  The assignment is frozen by a reliable
    checkpoint per round (see :func:`_louvain_local_moving`).
    """
    if prepartitioned:
        # ``edges`` IS the undirected weighted frame in the per-round
        # layout (the output of :func:`louvain_undirected_edges`,
        # persisted by the caller so its InMemoryRelation keeps the
        # partitioning/ordering metadata visible to every round's
        # plan).  Caller owns the cache lifecycle — do NOT unpersist:
        # a long-lived edge cache outlives one call (r11, the g70
        # per-call 2|E| repartition+sort+encode moved to cache-build).
        asg = _louvain_local_moving(edges, None, max_iter)
        return asg.select("v", F.col("c").alias("community"))
    # the CACHE lands already in the per-round join layout — one 2|E|
    # shuffle total, and (unlike a checkpoint) the cache's
    # partitioning/ordering metadata stays visible to every round's
    # plan (partitioned_cache)
    und = louvain_undirected_edges(edges, edges_distinct).persist()
    # no eager count: the kernel's first aggregate (ideg) materializes
    # the cache as a side effect of a job it runs anyway
    asg = _louvain_local_moving(und, None, max_iter)
    und.unpersist()  # asg is hard-frozen — independent of the cache
    return asg.select("v", F.col("c").alias("community"))


def maximal_independent_set(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 100
) -> DataFrame:
    """``(v)`` — a deterministic MAXIMAL independent set: no two
    returned vertices are adjacent, and every vertex outside the set
    has a neighbor inside it.

    Luby-style rounds with STATIC md5 priorities (Luby 1986's scheme
    with the per-round coin replaced by a content hash): each round,
    every still-active vertex joins the set iff its ``(md5(v), v)``
    key beats every active neighbor's; winners and their neighbors
    deactivate.  Static priorities make the result EXACTLY the
    sequential greedy MIS in global md5 order — reruns, partitionings,
    and the pure-Python oracle agree vertex-for-vertex — while hash
    priorities keep the expected round count polylogarithmic (an
    adversarial priority chain would serialize, but content hashes
    cannot be adversarial).

    Scale shape per round: one double semi-join to restrict edges to
    active vertices, one min-by hash-agg for the neighborhood
    minimum, two anti-joins to deactivate — all key-partitioned;
    driver sees only the loop counter and emptiness probes.
    """
    key_col = nodes.columns[0]
    und, uh = _simple_undirected(edges)
    act, n_act = _observing(
        nodes.select(F.col(key_col).alias("v")).distinct()
        .withColumn("pri", F.md5(F.col("v"))),
        n=F.count(F.lit(1)),
    )
    act, ah = checkpoint_eager(act)
    spark = nodes.sparkSession
    mis, mh = checkpoint_eager(spark.createDataFrame([], "v string"))
    for _ in range(max_iter):
        if not n_act.get["n"]:
            break
        e_act = _induced(und, act, "v")
        nbr_min = (
            e_act.join(
                act.select(F.col("v").alias("dst"), F.col("pri").alias("npri")),
                "dst",
            )
            .groupBy(F.col("src").alias("v"))
            .agg(F.min(F.struct(F.col("npri"), F.col("dst"))).alias("nm"))
        )
        winners = (
            act.join(nbr_min, "v", "left")
            .filter(
                F.col("nm").isNull()
                | (F.struct(F.col("pri"), F.col("v")) < F.col("nm"))
            )
            .select("v")
        )
        winners, wh = checkpoint_eager(winners)
        mis, mh = _step(mis.unionByName(winners), mh)
        nbrs = (
            e_act.join(winners.select(F.col("v").alias("src")), "src", "left_semi")
            .select(F.col("dst").alias("v"))
            .distinct()
        )
        act, n_act = _observing(
            act.join(winners.unionByName(nbrs), "v", "left_anti"),
            n=F.count(F.lit(1)),
        )
        act, ah = _step(act, ah, wh)
    _release(uh, ah)
    return mis


def greedy_coloring(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 200
) -> DataFrame:
    """``(v, color)`` — a proper vertex coloring via Jones–Plassmann
    with static md5 priorities (Jones & Plassmann 1993).

    Each round, every uncolored vertex whose higher-priority neighbors
    are ALL colored takes the smallest color absent from its colored
    neighborhood (the mex).  With a static priority order this is
    EXACTLY the sequential greedy coloring in global ``(md5(v), v)``
    order — deterministic across runs and partitionings, oracle-equal
    to the pure-Python replay — while rounds are bounded by the longest
    decreasing-priority path (O(log n / log log n) expected for hash
    priorities).

    Scale shape per round: one semi-join to find ready vertices, one
    collect_set of neighbor colors per ready vertex (bounded by
    degree), a fold computing the mex — all key-partitioned.  Color
    count is (Δ+1)-bounded like any greedy scheme.
    """
    key_col = nodes.columns[0]
    und, uh = _simple_undirected(edges)
    pending, n_pending = _observing(
        nodes.select(F.col(key_col).alias("v")).distinct(), n=F.count(F.lit(1))
    )
    pending, ph = checkpoint_eager(pending)
    pri = pending.withColumn(
        "pri", F.struct(F.md5(F.col("v")).alias("h"), F.col("v"))
    )
    # the priority-dominance graph (dst outranks src) is STATIC —
    # computed once; each round only membership changes
    dom, dh = checkpoint_eager(
        und.join(pri.select(F.col("v").alias("src"), "pri"), "src")
        .join(pri.select(F.col("v").alias("dst"), F.col("pri").alias("dpri")), "dst")
        .filter(F.col("dpri") < F.col("pri"))
        .select("src", "dst")
    )
    spark = nodes.sparkSession
    colored, ch = checkpoint_eager(
        spark.createDataFrame([], "v string, color int")
    )
    for _ in range(max_iter):
        if not n_pending.get["n"]:
            break
        # a pending vertex is READY when no pending neighbor outranks it
        blockers = (
            dom.join(pending.select(F.col("v").alias("dst")), "dst", "left_semi")
            .select(F.col("src").alias("v"))
            .distinct()
        )
        ready = pending.join(blockers, "v", "left_anti").select("v")
        # mex over the already-colored neighborhood
        nb_colors = (
            und.join(ready.select(F.col("v").alias("src")), "src", "left_semi")
            .join(
                colored.select(F.col("v").alias("dst"), "color"), "dst"
            )
            .groupBy(F.col("src").alias("v"))
            .agg(F.array_sort(F.collect_set("color")).alias("cs"))
        )
        mex = F.aggregate(
            F.col("cs"),
            F.lit(0),
            lambda acc, c: F.when(c == acc, acc + 1).otherwise(acc),
        )
        newly, nh = checkpoint_eager(
            ready.join(nb_colors, "v", "left")
            .select(
                "v",
                F.coalesce(mex, F.lit(0)).cast("int").alias("color"),
            )
        )
        colored, ch = _step(colored.unionByName(newly), ch)
        pending, n_pending = _observing(
            pending.join(newly.select("v"), "v", "left_anti"), n=F.count(F.lit(1))
        )
        pending, ph = _step(pending, ph, nh)
    _release(uh, dh, ph)
    return colored


def greedy_matching(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """(src, dst) — a deterministic MAXIMAL matching of the undirected
    graph: no two returned edges share a vertex, and no remaining edge
    has both endpoints unmatched.

    Handshake rounds (the distributed symmetric variant of greedy
    matching, cf. Israeli & Itai 1986): every edge carries a
    deterministic md5 priority; each round every live vertex points at
    its min-priority incident edge, and an edge joins the matching iff
    BOTH endpoints picked it (a handshake).  Matched vertices and
    their incident edges drop out; expected O(log n) rounds.

    Scale shape per round: one explode to (vertex, edge), one
    min-by-key hash-agg, a 2-vote hash-agg to detect handshakes, two
    anti-join filters — all key-partitioned, nothing driver-side but
    the loop counter.  Deterministic: priorities are content hashes,
    so reruns and the pure-Python oracle agree edge-for-edge
    (tests/test_traversal.py).
    """
    und = (
        _as_undirected(edges)
        .filter(F.col("src") < F.col("dst"))
        .distinct()
        .select(
            "src",
            "dst",
            F.md5(F.concat_ws("|", "src", "dst")).alias("pri"),
        )
    )
    und, n_und = _observing(und, n=F.count(F.lit(1)))
    und, uh = checkpoint_eager(und)
    matched_edges, mh = None, None
    for _ in range(max_iter):
        if not n_und.get["n"]:
            break
        # every vertex's min-priority incident edge; ties (md5
        # collisions) break on (pri, src, dst) inside the min-struct
        incid = und.select(
            F.col("src").alias("v"), "src", "dst", "pri"
        ).unionByName(und.select(F.col("dst").alias("v"), "src", "dst", "pri"))
        pick = incid.groupBy("v").agg(
            F.min(F.struct("pri", "src", "dst")).alias("e")
        ).select("v", F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
        handshake, n_hand = _observing(
            pick.groupBy("src", "dst")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") == 2)
            .select("src", "dst"),
            n=F.count(F.lit(1)),
        )
        handshake, hh = checkpoint_eager(handshake)
        if not n_hand.get["n"]:
            hh.release()
            break
        if matched_edges is None:
            matched_edges, mh = handshake, hh
        else:
            matched_edges, mh = _step(matched_edges.unionByName(handshake), mh)
        mv = handshake.select(F.col("src").alias("v")).unionByName(
            handshake.select(F.col("dst").alias("v"))
        ).distinct()
        und, n_und = _observing(
            und.join(mv.select(F.col("v").alias("src")), "src", "left_anti")
            .join(mv.select(F.col("v").alias("dst")), "dst", "left_anti"),
            n=F.count(F.lit(1)),
        )
        und, uh = _step(und, uh, None if hh is mh else hh)
    uh.release()
    if matched_edges is None:
        return edges.sparkSession.createDataFrame([], "src string, dst string")
    return matched_edges


def local_clustering(edges: DataFrame) -> DataFrame:
    """(u, degree, triangles, clustering_micro) — per-vertex local
    clustering coefficient c(v) = 2T(v) / (d(v)·(d(v)−1)) in integer
    micro-units, 0 where d < 2.

    ``edges`` is an undirected edge list (any orientation, duplicates
    and self-loops tolerated — canonicalized here).  The wedge
    (incidence) × closing-edge (min-ordered) join counts each triangle
    at v exactly once, so the numerator carries the explicit factor 2;
    multiply-then-integer-divide keeps both engines and reruns
    bit-identical.  Scale: the standard oriented triangle join — the
    closing side is the canonical edge list, hub vertices bound the
    wedge fan-out; prune low-support edges upstream (q133 does) when
    the projection is dense.  Toy-fixture semantics (triangle+pendant:
    1.0 / 0.333… / 0) pinned in tests/test_traversal.py.
    """
    e = (
        _as_undirected(edges)
        .filter(F.col("src") < F.col("dst"))
        .distinct()
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    e, _ = checkpoint_eager(e)  # the returned frame reads it
    und = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy("u").agg(F.count("*").alias("d"))
    wedge = und.select(F.col("u"), F.col("v").alias("mid")).join(
        e.select(F.col("u").alias("mid"), F.col("v").alias("other")), "mid"
    )
    tri = (
        wedge.join(
            e.select(F.col("u").alias("cu"), F.col("v").alias("cv")),
            (F.least("u", "other") == F.col("cu"))
            & (F.greatest("u", "other") == F.col("cv")),
            "left_semi",
        )
        .groupBy("u")
        .agg(F.count("*").alias("t"))
    )
    return deg.join(tri, "u", "left").select(
        "u",
        F.col("d").cast("bigint").alias("degree"),
        F.coalesce(F.col("t"), F.lit(0)).cast("bigint").alias("triangles"),
        F.when(F.col("d") < 2, F.lit(0))
        .otherwise(F.expr("(2000000 * coalesce(t, 0)) div (d * (d - 1))"))
        .cast("bigint")
        .alias("clustering_micro"),
    )


def _louvain_local_moving(
    und: DataFrame,
    loops: DataFrame | None,
    max_iter: int,
) -> DataFrame:
    """Weighted Louvain local-moving kernel — returns ``(v, c)``.

    ``und`` holds every undirected edge in BOTH directions with a
    bigint ``w`` (no self rows); ``loops`` is ``(v, loop_w)`` self-loop
    weight (None at level 0).  All gain comparisons are exact bigint:
    ΔQ(v→C) ∝ S·k_{v→C} − deg(v)·tot(C∖v) with S = Σ_v deg(v)
    (= 2·total edge weight incl. loops), ties broken by smallest
    community id; rounds alternate move DIRECTION (even rounds only
    min-ward community moves, odd rounds only max-ward) so symmetric
    neighbor swaps cannot oscillate, and the loop stops after two
    quiet rounds (one per direction).

    The edge table arrives hash-partitioned and sorted on ``dst`` in a
    CACHE (callers use :func:`partitioned_cache`), whose
    InMemoryRelation keeps the layout metadata visible to Catalyst —
    so every round's edge×assignment join plans ZERO exchange and ZERO
    sort on the edge side and moves only the vertex-sized assignment.
    (r7 finding: the r5/r6 checkpoint layout scanned as
    UnknownPartitioning, silently re-exchanging + re-sorting all 2|E|
    rows every round; the cache swap measured median round exec
    13.5s → 6.2s, −54%, 16 interleaved rounds at sf0.1, assignments
    bit-identical.  End-to-end on the g70 query the win is diluted —
    the one-off edge-build self-join dominates exec and AQE's
    broadcast-from-shuffle of the now-small assignment adds ~1s of
    driver wall — clean-sample exec −13%, full medians inside the
    box's noise band.  At cluster scale the durable equivalent is a
    bucketed+sorted edge table and the removed per-round 2|E|
    exchange is the dominant term.)

    When the vertex set is broadcast-sized (``n_nodes`` under ~2M),
    the node-sized frames (``tot``, ``vstate``, the stay score) are
    broadcast-hinted so the CANDIDATE-sized frame never exchanges on c
    or v before its argmin — per-round exchanges of the big frame drop
    from 3 to 1 (measured 2x end-to-end on the copurchase graph,
    bit-identical assignment).  Above the gate the original
    shuffle-join plan stands: at 10^9 vertices the per-executor copy
    of a broadcast vertex state is exactly the memory blow-up the
    co-partitioned joins avoid.
    """
    # this loop shape references the per-round assignment ~4x in the
    # next round's plan, and a LOCAL checkpoint of it under AQE could
    # land on a pre-replan RDD whose full lineage is retained, so round
    # cost compounded (measured 0.7s -> 67s over 8 rounds).  The
    # assignment is therefore frozen by a RELIABLE checkpoint
    # (``reliable=True``), which pins the computed partitions; it also
    # measured warm exec 108.5s -> 87.0s (-20%) against the earlier
    # Python-RDD freeze on the sf0.1 copurchase graph, assignment
    # bit-identical.
    ideg = und.groupBy(F.col("src").alias("v")).agg(
        F.sum("w").cast("bigint").alias("ideg")
    )
    if loops is not None:
        ideg = (
            ideg.join(loops, "v", "outer")
            .select(
                "v",
                (
                    F.coalesce(F.col("ideg"), F.lit(0))
                    + F.lit(2) * F.coalesce(F.col("loop_w"), F.lit(0))
                ).cast("bigint").alias("ideg"),
            )
        )
    nodes, nh = checkpoint_eager(ideg.select("v", F.col("ideg").alias("deg")))
    s_total = nodes.agg(F.sum("deg")).collect()[0][0] or 0
    # node-sized frames broadcast only while they are actually small
    # (see docstring); identity above the gate
    _bc_gate = nodes.count() <= 2_000_000
    _nb = F.broadcast if _bc_gate else (lambda df: df)
    # NEGATIVE RESULT (r6, do not retry): broadcasting the per-round
    # ASSIGNMENT into the edge join + re-laying und out on src (so the
    # (src,c) aggregate and the groupBy(v) argmin reuse the streamed
    # side's partitioning and no candidate frame crosses the wire)
    # measured cold 39.6s/330s-exec vs 26.0s/175s-exec and warm exec
    # 96.5s vs 87.0s on the sf0.1 copurchase graph — the one-off und
    # re-layout plus a driver collect+rebroadcast of the assignment
    # every round costs more than the two candidate exchanges it saves.
    # NEGATIVE RESULT #2 (r6, do not retry): repartitioning the joined
    # edge frame on src so the (src,c) aggregate and the groupBy(v)
    # argmin share ONE exchange measured cold 43.0s/362s-exec vs
    # 28.6s/191s and warm exec 122s vs 73s (interleaved same-epoch
    # pair) — the raw 2|E| exchange of un-aggregated rows costs far
    # more than the two PARTIAL-AGG-reduced candidate exchanges it
    # replaces.  Map-side combine is the whole ballgame here.
    # NEGATIVE RESULT #3 (r7, do not retry): broadcast-HINTING the
    # per-round assignment into the edge join (pure F.broadcast, no
    # re-layout, no driver collect) measured median round exec 11.5s
    # vs 13.1s for the hint (16 interleaved rounds, bit-identical) —
    # rebuilding a node-sized HashedRelation from a checkpoint scan
    # every round costs more than the node-sized dst exchange it
    # replaces.  The cache layout above gets the same edge-side
    # zero-movement without the per-round build.
    # NEGATIVE RESULT #4 (r7, at THIS scale): materializing und as a
    # bucketed+sorted managed table gives the identical ideal plan,
    # but the one-time repartition+write+table-scan setup (~18s exec
    # at sf0.1) eats the per-round saving at max_iter=4 (traced 72.0s
    # vs 72.4s total; A/B medians slightly worse under noise).  On a
    # real cluster with many more rounds/levels the durable table
    # wins; locally the metadata-preserving cache is strictly better.
    # NEGATIVE RESULT #5 (r7): forcing the round join to SMJ with a
    # merge hint (to avoid AQE's broadcast-from-shuffle of the small
    # assignment and its ~+1s/query driver wall) measured full-query
    # exec median 102s vs 91s checkpoint / 77s cache-with-BHJ — the
    # node-sized exchange+sort per round costs more exec than the
    # driver-side broadcast it avoids.  Let AQE pick: it broadcasts
    # exactly while the assignment is actually small and degrades to
    # SMJ (edge side still zero-work via the cache metadata) beyond.
    # REASONED SKIP (r7, not measured): dense 0..n-1 integer vertex
    # recoding inside the kernel.  The classic GraphX/Gemini win
    # (array-indexed vertex state, halved key bytes) does not transfer
    # to DataFrame execution: UnsafeRow fixed-width fields occupy an
    # 8-byte slot whether the column is int or long, Murmur3 hashing
    # and codegen long compares are width-insensitive, and state here
    # is relational rows, not arrays — while the recode itself would
    # ADD two joins (encode at entry, decode at exit) plus a dense-id
    # assignment shuffle per level.  Nothing on the profile charges to
    # key width; skip unless rows ever become array-indexed.
    asg, ah = checkpoint_eager(
        nodes.select("v", F.col("v").alias("c")), reliable=True
    )

    quiet_streak = 0
    for it in range(max_iter):
        nbc = (
            und.join(asg.select(F.col("v").alias("dst"), "c"), "dst")
            .groupBy(F.col("src").alias("v"), "c")
            .agg(F.sum("w").cast("bigint").alias("k"))
        )
        tot = (
            asg.join(nodes, "v")
            .groupBy("c")
            .agg(F.sum("deg").cast("bigint").alias("tot"))
        )
        cur = asg.select("v", F.col("c").alias("c_cur"))
        # one node-sized pre-join (v → c_cur, deg) instead of two
        # separate cand-sized joins on v
        vstate = cur.join(nodes, "v")
        # score every NEIGHBOR community directly off nbc — no union +
        # second candidate-sized groupBy.  The stay option rides as a
        # separate NODE-sized frame with k = 0 (see below): when v has
        # neighbors in its own community, nbc already carries the true
        # stay gain (k = k_stay) which dominates the k = 0 row, and when
        # it has none, k_stay IS 0 — so min(best_move, stay0) equals the
        # min over the old unioned candidate set in every case.
        # with the broadcast gate open the candidate frame exchanges
        # ONLY for the groupBy("v") argmin below; above the gate the
        # join order still matters: tot first (one c-keyed exchange of
        # the candidate frame), THEN vstate on v — the groupBy("v")
        # reuses that join's v-partitioning, so the candidate frame
        # crosses the wire twice per round, not three times
        scored = (
            nbc.join(_nb(tot), "c")
            .join(_nb(vstate), "v")
            .select(
                "v",
                "c",
                "c_cur",
                (
                    F.col("deg")
                    * (
                        F.col("tot")
                        - F.when(F.col("c") == F.col("c_cur"), F.col("deg"))
                        .otherwise(F.lit(0))
                    )
                    - F.lit(s_total).cast("bigint") * F.col("k")
                ).alias("ng"),
            )
        )
        # groupBy("v") right after the join on "v": partitioning is
        # already hashpartitioning(v) — no extra exchange
        best_mv = scored.groupBy("v").agg(
            F.min(F.struct(F.col("ng"), F.col("c"))).alias("m"),
            F.min("c_cur").alias("c_cur"),  # constant per v
        )
        stay0 = vstate.join(
            _nb(tot), vstate["c_cur"] == tot["c"]
        ).select(
            "v",
            "c_cur",
            (F.col("deg") * (F.col("tot") - F.col("deg"))).alias("ng0"),
        )
        # every v in nodes has >= 1 neighbor (und has no isolated rows),
        # so best_mv covers all of stay0's keys: inner join is total
        best = best_mv.join(_nb(stay0.select("v", "ng0")), "v").select(
            "v",
            F.when(
                F.struct(F.col("ng0"), F.col("c_cur")) < F.col("m"),
                F.struct(
                    F.col("c_cur").alias("c"), F.col("c_cur").alias("c_cur")
                ),
            )
            .otherwise(
                F.struct(F.col("m.c").alias("c"), F.col("c_cur").alias("c_cur"))
            )
            .alias("b"),
        )
        # direction-alternating schedule: even rounds apply only moves
        # to a SMALLER community id, odd rounds only to a larger one —
        # a symmetric neighbor swap (a->comm(b), b->comm(a)) needs both
        # directions in one round, so oscillation is impossible by
        # construction (the hash-parity schedule this replaces still
        # let same-parity neighbors swap forever and never merge)
        pre = best.select(
            "v",
            F.when(
                F.when(
                    F.lit(it % 2 == 0), F.col("b.c") < F.col("b.c_cur")
                ).otherwise(F.col("b.c") > F.col("b.c_cur")),
                F.col("b.c"),
            )
            .otherwise(F.col("b.c_cur"))
            .alias("c"),
            F.col("b.c_cur").alias("c_old"),
        )
        # moved-count folds into the freeze's own materialization job
        pre, moved = _observing(pre, n=F.count_if(F.col("c") != F.col("c_old")))
        nxt, nxh = checkpoint_eager(pre, reliable=True)
        ah.release()
        asg, ah = nxt.select("v", "c"), nxh
        quiet_streak = quiet_streak + 1 if moved.get["n"] == 0 else 0
        if quiet_streak >= 2:
            break
    nh.release()
    return asg


def louvain(
    edges: DataFrame,
    max_levels: int = 5,
    max_iter: int = 8,
    weight_col: str | None = None,
) -> DataFrame:
    """Full multi-level Louvain (Blondel et al. 2008) — ``(v,
    community)`` on the ORIGINAL vertices.

    Each level runs the weighted local-moving kernel, then AGGREGATES:
    communities become super-nodes, inter-community weights sum, and
    intra-community mass (internal edges + carried self-loops) becomes
    the super-node's self-loop — the part one-level local moving
    cannot see.  Levels repeat until a level merges nothing.  All
    arithmetic stays bigint (edge multiplicities as weights), so every
    level is deterministic; community ids are original-vertex ids
    propagated upward.

    100 TB shape: each level shrinks the graph (typically sharply
    after level 1), so cost is dominated by level 0 — the same
    per-round joins as :func:`louvain_one_level`; the aggregation
    itself is one join + two hash-aggs.  A freeze per level bounds
    lineage.
    """
    if weight_col is None:
        base = (
            edges.select("src", "dst")
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .withColumn("w", F.lit(1).cast("bigint"))
        )
    else:
        # integer edge weights (counts / multiplicities); parallel rows
        # sum, both orientations carry the canonical summed weight
        base = (
            edges.select(
                F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"),
                F.col(weight_col).cast("bigint").alias("w"),
            )
            .filter(F.col("src") != F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
        )
    # dst-repartition BEFORE the dedup groupBy: hashpartitioning(dst)
    # satisfies the (src, dst) clustering (subset rule), so one 2|E|
    # exchange yields both the dedup and the per-round join layout
    und = (
        _as_undirected(base, F.col("w"))
        .repartition(_n_shuffle(edges), "dst")
        .groupBy("src", "dst")
        .agg(F.max("w").alias("w"))
        .sortWithinPartitions("dst")
        .persist()
    )
    und.count()
    loops, lh = None, None
    mapping = None  # original v -> current-level community
    for _ in range(max_levels):
        asg = _louvain_local_moving(und, loops, max_iter)
        n_nodes = asg.count()
        n_comms = asg.select("c").distinct().count()
        # frozen like the assignment it composes (reliable: no
        # executor-local block to release)
        mapping = (
            asg
            if mapping is None
            else checkpoint_eager(
                mapping.join(
                    asg.select(F.col("v").alias("c"), F.col("c").alias("c_new")),
                    "c",
                ).select("v", F.col("c_new").alias("c")),
                reliable=True,
            )[0]
        )
        if n_comms == n_nodes:
            break
        # aggregate: project edges onto communities
        proj = (
            und.join(asg.select(F.col("v").alias("src"), F.col("c").alias("cs")), "src")
            .join(asg.select(F.col("v").alias("dst"), F.col("c").alias("cd")), "dst")
            .select("cs", "cd", "w")
        )
        # the metadata-visible layout every local-moving round joins on
        new_und = partitioned_cache(
            proj.filter(F.col("cs") != F.col("cd"))
            .groupBy(F.col("cs").alias("src"), F.col("cd").alias("dst"))
            .agg(F.sum("w").cast("bigint").alias("w")),
            "dst",
        )
        intra = (
            proj.filter(F.col("cs") == F.col("cd"))
            .groupBy(F.col("cs").alias("v"))
            .agg(F.expr("sum(w) div 2").cast("bigint").alias("loop_w"))
        )
        carried = (
            loops.join(asg, "v")
            .groupBy(F.col("c").alias("v"))
            .agg(F.sum("loop_w").cast("bigint").alias("loop_w"))
            if loops is not None
            else None
        )
        new_loops = (
            intra
            if carried is None
            else intra.unionByName(carried)
            .groupBy("v")
            .agg(F.sum("loop_w").cast("bigint").alias("loop_w"))
        )
        loops, lh = _step(new_loops, lh)
        # new_und (persist+count) and loops (frozen) are both
        # materialized — the previous level's cache can go
        und.unpersist()
        und = new_und
        if und.isEmpty():
            break
    und.unpersist()
    _release(lh)
    return mapping.select("v", F.col("c").alias("community"))


def topological_levels(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 200
) -> DataFrame:
    """``(v, level)`` — Kahn's-algorithm longest-path levels of a DAG,
    with cycle detection: level L holds every vertex whose longest
    incoming path has L edges (sources are level 0); vertices on or
    downstream of a cycle come back with ``level = NULL`` (Kahn's
    peeling can never reach them — their count is the standard DAG
    check, events.py's SPAWNS forest being the motivating shape).

    Deterministic by construction (no priorities, no hashing — the
    level function is a property of the graph).

    100 TB shape per round: peel = one anti-join (active edges whose
    src is still unpeeled) + one distinct on dst; the frontier is the
    current level, edges shrink monotonically; a freeze per round
    truncates lineage.  Rounds = DAG depth (the SPAWNS
    forest is tens deep, not thousands); for adversarially deep
    chains, pair with :func:`connected_components_twophase`-style
    contraction first.
    """
    key_col = nodes.columns[0]
    verts, n_rem = _observing(
        nodes.select(F.col(key_col).alias("v")).distinct(), n=F.count(F.lit(1))
    )
    verts, _ = checkpoint_eager(verts)  # the returned frame reads it
    e, eh = checkpoint_eager(_induced(
        edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct(),
        verts, "v",
    ))
    spark = nodes.sparkSession
    out, oh = checkpoint_eager(spark.createDataFrame([], "v string, level int"))
    remaining, rh = verts, None
    for level in range(max_iter):
        if not n_rem.get["n"]:
            break
        has_incoming = e.select(F.col("dst").alias("v")).distinct()
        frontier, n_front = _observing(
            remaining.join(has_incoming, "v", "left_anti"), n=F.count(F.lit(1))
        )
        frontier, fh = checkpoint_eager(frontier)
        if not n_front.get["n"]:
            fh.release()
            break  # every remaining vertex sits on/behind a cycle
        out, oh = _step(
            out.unionByName(frontier.withColumn("level", F.lit(level))), oh
        )
        remaining, n_rem = _observing(
            remaining.join(frontier, "v", "left_anti"), n=F.count(F.lit(1))
        )
        remaining, rh = _step(remaining, rh)
        e, eh = _step(
            e.join(frontier.select(F.col("v").alias("src")), "src", "left_anti"),
            eh, fh,
        )
    _release(eh, rh)
    # cycle residue: unpeelable vertices, level NULL
    return verts.join(out, "v", "left").select("v", "level")


def harmonic_centrality_exact(
    edges: DataFrame,
    max_hops: int = 64,
    directed: bool = True,
) -> DataFrame:
    """(key, harmonic_micro) — EXACT harmonic centrality in integer
    micro-units: ``Σ_{u ≠ v reachable} 10⁶ div dist(u → v)`` summed per
    target v (Boldi & Vigna's harmonic form — robust to
    disconnection; the integer floor-division makes the score
    bit-portable across engines, unlike a float 1/d sum whose
    accumulation order differs).

    Runs ONE tagged multi-source BFS seeded at EVERY vertex (rows
    carry their source pivot), so cost is O(diameter) rounds with
    |V|·|reachable| total visited state.  That makes this the
    DIMENSION-GRAPH tool — derived graphs whose vertex set is bounded
    (nations, categories, warehouses), exactly where an exact,
    auditable centrality is wanted; for data-sized graphs use the
    pivot-sampled :func:`closeness_approx`, which is this same sweep
    with k ≪ |V| sources.

    Vertices are the endpoints of ``edges`` (both directions when
    ``directed=False``).
    """
    e, eh = checkpoint_eager(
        edges.select("src", "dst") if directed else _as_undirected(edges)
    )
    verts, uh = checkpoint_eager(_vertex_set(e, None))
    visited = _tagged_sweep(
        e, verts.select(F.col("key").alias("pivot")), max_hops, uh
    )
    eh.release()
    return (
        visited.filter(F.col("dist") > 0)
        .groupBy("key")
        .agg(
            F.sum(F.expr("1000000 div dist"))
            .cast("bigint")
            .alias("harmonic_micro")
        )
    )
