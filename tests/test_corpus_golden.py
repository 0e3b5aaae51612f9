"""The constant oracles behind g40/g42/g44/g79/g80 must never drift
from the INDEPENDENT pure-Python derivation: re-derive every constant
from the raw reference corpus (tests/oracle_sim ingest semantics +
union-find / BFS / Kahn in tools/corpus_golden_calc.py) and compare to
graphdb_neo4j_spark/corpus_golden.py.  Spark-vs-constant is covered by
tests/test_oracle_parity.py, so together the two tests check the
engine against a second implementation, not against itself."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from graphdb_neo4j_spark import corpus_golden as CG

calc = pytest.importorskip("tools.corpus_golden_calc")


@pytest.fixture(scope="module")
def computed(reference_corpus):
    return calc.compute_all()


def test_g40_component_sizes(computed):
    assert [tuple(r) for r in CG.G40_COMPONENT_SIZES] == computed["g40"]


def test_g42_bfs_depths(computed):
    assert [tuple(r) for r in CG.G42_BFS_DEPTHS] == computed["g42"]


def test_g44_golden_counts(computed):
    assert [tuple(r) for r in CG.G44_GOLDEN_COUNTS] == computed["g44"]


def test_g79_topo_levels(computed):
    assert [tuple(r) for r in CG.G79_TOPO_LEVELS] == computed["g79"]


def test_g80_undirected_degree(computed):
    assert [tuple(r) for r in CG.G80_UNDIRECTED_DEGREE] == computed["g80"]


def test_g43_injector_files(computed):
    assert [tuple(r) for r in CG.G43_INJECTOR_FILES] == computed["g43"]


def test_g46_scc_shape(computed):
    assert [tuple(r) for r in CG.G46_SCC_SHAPE] == computed["g46"]
    # independent-Tarjan sanity: the spawn graph is a forest/DAG
    (n_comp, n_vert, max_size), = computed["g46"]
    assert n_comp == n_vert and max_size == 1


def test_g48_kcore_sizes(computed):
    assert [tuple(r) for r in CG.G48_KCORE_SIZES] == computed["g48"]


def test_g55_optional_spawn_files(computed):
    assert [tuple(r) for r in CG.G55_OPTIONAL_SPAWN_FILES] == computed["g55"]


def test_g72_greedy_matching(computed):
    got = [tuple(r) for r in CG.G72_GREEDY_MATCHING]
    assert got == computed["g72"]
    # matching property on the independent derivation: no shared vertex
    pairs = got[1:]
    seen = [v for p in pairs for v in p]
    assert len(seen) == len(set(seen))


def test_g75_independent_set(computed):
    assert [tuple(r) for r in CG.G75_INDEPENDENT_SET] == computed["g75"]


def test_g58_varlen_paths(computed):
    assert [tuple(r) for r in CG.G58_VARLEN_PATHS] == computed["g58"]


def test_g76_greedy_coloring(computed):
    got = [tuple(r) for r in CG.G76_GREEDY_COLORING]
    assert got == computed["g76"]
    # internal cross-check of the md5-order greedy family: the color-0
    # class IS the greedy MIS in the same order
    assert got[0][1] == int(CG.G75_INDEPENDENT_SET[0][1])


def test_g49_temporal_motif(computed):
    assert [tuple(r) for r in CG.G49_TEMPORAL_MOTIF] == computed["g49"]


def test_g53_temporal_reachability(computed):
    assert [tuple(r) for r in CG.G53_TEMPORAL_REACHABILITY] == computed["g53"]
    # time-respecting sanity: arrivals move forward
    (n, first, last), = computed["g53"]
    assert n > 0 and first <= last


def test_g59_provenance_paths(computed):
    got = [tuple(r) for r in CG.G59_PROVENANCE_PATHS]
    assert got == computed["g59"]
    # chain sanity on the independent derivation: hops = path edges,
    # chain ends at the file
    for f, hops, chain in got:
        parts = chain.split(" -> ")
        assert parts[-1] == f


def test_g62_path_hubs(computed):
    got = [tuple(r) for r in CG.G62_PATH_HUBS]
    assert got == computed["g62"]
    # the root sits on every path, so it must hold the max count
    assert got[0][1] == max(c for _, c in got)


def test_g63_net_only(computed):
    assert [tuple(r) for r in CG.G63_NET_ONLY] == computed["g63"]


def test_g65_persistence(computed):
    assert [tuple(r) for r in CG.G65_PERSISTENCE] == computed["g65"]


def test_g66_graph_diff(computed):
    got = [tuple(r) for r in CG.G66_GRAPH_DIFF]
    assert got == computed["g66"]
    # the old corpus is a subset of the new: nothing is ever removed
    assert not [r for r in got if r[2] == "removed"]


def test_g67_degree_triage(computed):
    assert [tuple(r) for r in CG.G67_DEGREE_TRIAGE] == computed["g67"]


def test_g71_ioc_union(computed):
    assert [tuple(r) for r in CG.G71_IOC_UNION] == computed["g71"]


def test_g77_tls_beacons(computed):
    assert [tuple(r) for r in CG.G77_TLS_BEACONS] == computed["g77"]


def test_g57_densest_subgraph(computed):
    got = [tuple(r) for r in CG.G57_DENSEST_SUBGRAPH]
    assert got == computed["g57"]
    (n, density), = got
    assert n > 0 and density > 0


def test_g60_spawn_endpoint_hubs(computed):
    assert [tuple(r) for r in CG.G60_SPAWN_ENDPOINT_HUBS] == computed["g60"]


def test_g61_root_descendant_hops(computed):
    assert [tuple(r) for r in CG.G61_ROOT_DESCENDANT_HOPS] == computed["g61"]


def test_g64_pinned_path(computed):
    got = [tuple(r) for r in CG.G64_PINNED_PATH]
    assert got == computed["g64"]
    # path sanity: consecutive steps are SPAWNS edges root -> dst
    steps = [r[3] for r in got]
    a, b, hops = got[0][0], got[0][1], got[0][2]
    assert steps[0] == a and steps[-1] == b and len(steps) == hops + 1


def test_g68_double_sweep(computed):
    got = [tuple(r) for r in CG.G68_DOUBLE_SWEEP]
    assert got == computed["g68"]
    (start, far, first, lb), = got
    # second sweep can only improve: lb >= first eccentricity's floor
    assert lb >= first >= 1
