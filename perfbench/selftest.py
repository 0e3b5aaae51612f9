"""Fast self-test of the corpus generator and the oracles (no Spark).

    python3 perfbench/selftest.py

Checks that a seed always gives the same corpus, that the corpus has
the reference's make-up, and that the oracles agree with each other and
with hand-computed answers on tiny inputs. Exits 0 when all pass.
"""

from __future__ import annotations

import os
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import corpus  # noqa: E402
import oracles  # noqa: E402
import workloads  # noqa: E402


def test_generator_is_deterministic_per_seed():
    a = corpus.make_batch(7, 0, 30)
    assert a == corpus.make_batch(7, 0, 30)
    assert a != corpus.make_batch(8, 0, 30)
    # a file's bytes do not depend on the batch it is drawn in
    name, doc = corpus.make_trace(7, 12)
    names, docs = corpus.make_batch(7, 12, 1)
    assert (names[0], docs[0]) == (name, doc)


def test_corpus_shape_matches_reference():
    names, docs = corpus.make_batch(3, 0, 400)
    s = corpus.shape(docs)
    assert 12.5 <= s["spans_per_file"] <= 15.5, s
    mix = s["event_mix"]
    # reference order of the handled EventIDs: 1 ~ 5 > 11 > 22 > 13 > 8 ~ 3
    assert mix["1"] > mix["11"] > mix["22"] > mix["13"] > mix["8"] > 0, mix
    assert mix["5"] > mix["11"] and mix["3"] > 0, mix
    roots = mix.get("None", 0) / len(docs)
    assert 0.15 <= roots <= 0.3, roots
    nodes, edges = oracles.simulate(docs, names)
    procs = nodes["Process"]
    guid = {k for k in procs if ":" not in k}
    assert corpus.ZERO_GUID in guid
    assert 0.2 < len(guid) / len(procs) < 0.9, (len(guid), len(procs))
    hub_children = sum(1 for p, _ in edges["SPAWNS"] if p == corpus.ZERO_GUID)
    assert hub_children > len(docs)  # every file's first process, and more
    # flat trees: the reference's BFS depths 0/1/2/3 are 3,193/5,427/89/1
    # (36.7 / 62.3 / 1.0 / 0.01 %)
    depths = dict(oracles.g42_bfs_depths(edges))
    total = sum(depths.values())
    assert 0.30 <= depths[0] / total <= 0.43, depths
    assert 0.55 <= depths[1] / total <= 0.70, depths
    assert 0.002 <= depths.get(2, 0) / total <= 0.02, depths
    assert sum(n for d, n in depths.items() if d >= 3) / total < 0.002, depths
    # most created processes have two SPAWNS parents (reference: 5,244
    # of 5,851 creates)
    parents = Counter(c for _, c in edges["SPAWNS"])
    assert sum(1 for n in parents.values() if n >= 2) > 0.6 * mix["1"], mix


def test_simulators_agree():
    names, docs = corpus.make_batch(5, 0, 40)
    n1, e1 = oracles.simulate(docs, names)
    n2, e2, _ = oracles.simulate_full(docs, names)
    assert n1 == n2 and e1 == e2


def test_graph_oracles_on_hand_graph():
    spawns = {("a", "b"), ("a", "c"), ("b", "d"), ("x", "y")}
    adj = oracles.adjacency(spawns)
    assert oracles.hops_from(adj, "a") == {"b": 1, "c": 1, "d": 2}
    assert oracles.hops_from(adj, "a", max_hops=1) == {"b": 1, "c": 1}
    nodes = {"Process": {"a", "b", "c", "d", "x", "y", "z"}}
    sizes = oracles.g40_component_sizes(nodes, {"SPAWNS": spawns}, topk=None)
    assert sizes == [("a", 4), ("x", 2), ("z", 1)]
    assert oracles.g42_bfs_depths({"SPAWNS": spawns}) == [(0, 2), (1, 3), (2, 1)]


def test_pagerank_power_iteration():
    # a 2-cycle is stationary at 1.0; a chain a->b has b = 0.15 + 0.85 * 1
    r = oracles.pagerank({("a", "b"), ("b", "a")})
    assert all(abs(v - 1.0) < 1e-12 for v in r.values())
    r = oracles.pagerank({("a", "b")}, iterations=1)
    assert abs(r["a"] - 0.15) < 1e-12 and abs(r["b"] - 1.0) < 1e-12
    assert oracles.ranks_agree({"a": 1.0}, {"a": 1.0 + 1e-12})
    assert not oracles.ranks_agree({"a": 1.0}, {"a": 1.001})


def test_merge_fold_semantics():
    f = oracles.MergeFold()
    f.merge_traces(["t1"])

    def w(key, seq, **props):
        row = dict.fromkeys(oracles.MergeFold.PROPS)
        row.update(key=key, traceID=props.pop("trace", "t1"), f="f", st=seq, si=0, wseq=0)
        row.update(props)
        return row

    f.merge_processes([
        # created: ON CREATE keeps image/CommandLine, drops the GUIDs
        w("p", 1, image="a.exe", CommandLine="a", ProcessGuid="G", ParentProcessGuid="PG"),
        # matched: coalesce keeps old image, takes the new GUID
        w("p", 2, image=None, ProcessGuid="G2"),
        # a trace not in the pre-batch store: no HAS_PROCESS
        w("q", 3, image="q.exe", trace="t2"),
    ])
    assert f.process["p"] == {"image": "a.exe", "CommandLine": "a",
                              "ProcessGuid": "G2", "ParentProcessGuid": None}
    assert f.has_process == {("t1", "p")}
    f.merge_spawns([("p", "q"), ("p", "missing")])
    assert f.spawns == {("p", "q")}
    assert f.children("p") == {("q", "q.exe")}


def test_merge_params_cover_every_write_class():
    names, docs = corpus.make_batch(2, 0, 30)
    b = workloads.merge_params(docs, names)
    assert {w["wseq"] for w in b["writes"]} == {0, 1, 2}
    nodes, edges = oracles.simulate(docs, names)
    fold = oracles.MergeFold()
    fold.merge_traces(b["traces"])
    fold.merge_processes(b["writes"])
    fold.merge_spawns(b["spawns"])
    # the three templates rebuild the loader's Process/HAS_PROCESS/SPAWNS
    assert set(fold.process) == nodes["Process"]
    assert fold.has_process == edges["HAS_PROCESS"]
    assert fold.spawns == edges["SPAWNS"]


def main() -> int:
    tests = [(n, f) for n, f in sorted(globals().items()) if n.startswith("test_")]
    bad = 0
    for name, fn in tests:
        try:
            fn()
            print(f"ok   {name}")
        except AssertionError as e:
            bad += 1
            print(f"FAIL {name}: {e}")
    print(f"{len(tests) - bad}/{len(tests)} passed")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
