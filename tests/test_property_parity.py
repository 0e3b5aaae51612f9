"""Property-based parity: hypothesis-generated adversarial traces must
produce the same graph shape in the Spark engine and the independent
pure-Python semantic oracle (tests/oracle_sim.py).

Strategies deliberately hit the quirk surface: falsy int/str zeros,
missing IDs, "-" hostnames, single-segment registry targets, trailing
backslashes, GUID/pid mixes, WMI bind ordering, duplicate startTimes,
and every event route of the ingest (``ALL_ROUTES`` fires each one).
"""

from __future__ import annotations

import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from graphdb_neo4j_spark.operators.ingest import build_graph
from tests.oracle_sim import EDGE_PROP_NAMES, simulate, simulate_full

GUIDS = ["G1", "G2", "G3"]
IMAGES = ["C:\\w\\a.exe", "/usr/bin/x", "b.exe", ""]
REG_TARGETS = ["HKLM\\S\\Run\\V", "Bare", "HKLM\\K\\\\", "HKLM\\A\\B"]
FILES = ["C:\\f1", "C:\\f2"]
HOSTS = ["Evil.COM", "-", "h"]


def tag_entry(key, value):
    if isinstance(value, bool):
        t = "bool"
    elif isinstance(value, int):
        t = "int64"
    else:
        t = "string"
    return {"key": key, "type": t, "value": value}


optional_tags = st.fixed_dictionaries(
    {},
    optional={
        "ID": st.sampled_from([
            1, 2, 3, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 17, 18, 19, 20,
            21, 22, 23, 25, 26, 27, 29, 0,
        ]),
        "EventID": st.sampled_from(["0", "11", "abc", 3]),
        "ProcessGuid": st.sampled_from(GUIDS + [""]),
        "ProcessId": st.sampled_from([0, 1, 2, "0"]),
        "ParentProcessGuid": st.sampled_from(GUIDS),
        "sysmon.ppid": st.sampled_from([0, 1, 7]),
        "Image": st.sampled_from(IMAGES),
        "CommandLine": st.sampled_from(["cmd /c x", ""]),
        "TargetFilename": st.sampled_from(FILES),
        "DestinationIp": st.sampled_from(["1.2.3.4", ""]),
        "DestinationHostname": st.sampled_from(HOSTS),
        "DestinationPort": st.sampled_from([443, 0]),
        "Protocol": st.sampled_from(["tcp", ""]),
        "EventType": st.sampled_from(["CreateKey", "DeleteKey", "DeleteValue", "Rename", ""]),
        "TargetObject": st.sampled_from(REG_TARGETS),
        "NewName": st.sampled_from(["HKLM\\A\\C", ""]),
        "PipeName": st.sampled_from(["\\\\pipe\\p1", ""]),
        "SourceProcessGuid": st.sampled_from(GUIDS),
        "SourceProcessId": st.sampled_from([0, 4]),
        "SourceImage": st.sampled_from(IMAGES),
        "TargetProcessGuid": st.sampled_from(GUIDS),
        "TargetProcessId": st.sampled_from([0, 5]),
        "ImageLoaded": st.sampled_from(["C:\\w\\m.dll", ""]),
        "Device": st.sampled_from(["\\Device\\H1", ""]),
        "GrantedAccess": st.sampled_from(["0x1410", ""]),
        "StreamName": st.sampled_from(["Zone.Identifier", ""]),
        "Hash": st.sampled_from(["SHA1=AB", ""]),
        "Details": st.sampled_from(["d1", ""]),
        "FilterName": st.sampled_from(["wf1", "wf2"]),
        "ConsumerName": st.sampled_from(["wc1"]),
        "Query": st.sampled_from(["SELECT 1", ""]),
        "Command": st.sampled_from(["run.exe"]),
    },
)

span_st = st.builds(
    lambda start, tags: {
        "spanID": "s",
        "startTime": start,
        "tags": [tag_entry(k, v) for k, v in tags.items()],
    },
    start=st.integers(min_value=0, max_value=5),
    tags=optional_tags,
)

trace_st = st.builds(
    lambda tid, spans: {"traceID": tid, "spans": spans},
    tid=st.sampled_from(["tA", "tB", ""]),
    spans=st.lists(span_st, min_size=0, max_size=6),
)


def _span(start, **tags):
    return {
        "spanID": "s",
        "startTime": start,
        "tags": [tag_entry(k, v) for k, v in tags.items()],
    }


# one span per event route, so every (condition, row) entry of the
# ingest's route tables fires at least once
_P = {"ProcessGuid": "G1", "ParentProcessGuid": "G2"}
ALL_ROUTES = [{"traceID": "tA", "spans": [
    _span(0, ID=1, Image="C:\\w\\a.exe", CommandLine="cmd /c x", **_P),
    _span(1, ID=2, TargetFilename="C:\\f1", **_P),
    _span(2, ID=3, DestinationIp="1.2.3.4", DestinationHostname="Evil.COM",
          Protocol="tcp", DestinationPort=443, **_P),
    _span(3, ID=6, ImageLoaded="C:\\d.sys", **_P),
    _span(4, ID=7, ImageLoaded="C:\\m.dll", **_P),
    _span(5, ID=8, SourceProcessGuid="G2", SourceImage="C:\\s.exe",
          TargetProcessGuid="G3"),
    _span(6, ID=9, Device="\\Device\\H1", **_P),
    _span(7, ID=10, SourceProcessId=4, TargetProcessId=5, GrantedAccess="0x1410"),
    _span(8, ID=11, TargetFilename="C:\\f2", **_P),
    _span(9, ID=12, TargetObject="HKLM\\A\\B", EventType="CreateKey", **_P),
    _span(10, ID=12, TargetObject="HKLM\\K", EventType="DeleteValue", **_P),
    _span(11, ID=13, TargetObject="HKLM\\S\\Run\\V", **_P),
    _span(12, ID=14, TargetObject="HKLM\\A\\B", NewName="HKLM\\A\\C", **_P),
    _span(13, ID=15, TargetFilename="C:\\f1", StreamName="Zone.Identifier",
          Hash="SHA1=AB", **_P),
    _span(14, ID=17, PipeName="\\\\pipe\\p1", **_P),
    _span(15, ID=18, PipeName="\\\\pipe\\p2", **_P),
    _span(16, ID=19, FilterName="wf1", Query="SELECT 1", **_P),
    _span(17, ID=20, ConsumerName="wc1", Command="run.exe", **_P),
    _span(18, ID=21, FilterName="wf1", ConsumerName="wc1", **_P),
    _span(19, ID=23, TargetFilename="C:\\f3", **_P),
    _span(20, ID=25, SourceProcessGuid="G2", TargetProcessGuid="G3", Details="d1"),
    # a later TAMPERED write without Details keeps the old value
    _span(21, ID=25, SourceProcessGuid="G2", TargetProcessGuid="G3"),
    _span(22, ID=26, TargetFilename="C:\\f4", **_P),
    _span(23, ID=27, TargetFilename="C:\\f5", **_P),
    _span(24, ID=29, TargetFilename="C:\\f6", **_P),
]}]

ALL_RELS = {
    "HAS_PROCESS", "SPAWNS", "MODIFIED_FILE_TIME", "CONNECTED_TO",
    "LOADED_DRIVER", "LOADED_MODULE", "INJECTED_THREAD", "RAW_READ",
    "ACCESSED_PROCESS", "CREATED_FILE", "CREATED_REG_KEY", "DELETED_REG_KEY",
    "UNDER_KEY", "SET_REG_VALUE", "RENAMED_REG_KEY", "RENAMED_TO",
    "CREATED_STREAM", "CREATED_PIPE", "CONNECTED_PIPE", "BIND_TO",
    "DELETED_FILE", "TAMPERED", "CREATED_EXECUTABLE",
}
ALL_LABELS = {
    "Trace", "Process", "File", "Ip", "Device", "RegistryKey",
    "RegistryValue", "Pipe", "WmiFilter", "WmiConsumer",
}


def _build(spark, tmp, traces):
    fnames = []
    for i, doc in enumerate(traces):
        name = f"t{i:03d}.json"
        (tmp / name).write_text(json.dumps(doc), encoding="utf-8-sig")
        fnames.append(name)
    return build_graph(spark, f"{tmp}/*.json"), fnames


def _assert_shape(g, traces, fnames):
    exp_nodes, exp_edges = simulate(traces, fnames)
    got_nodes: dict[str, set] = {}
    for r in g.nodes().collect():
        got_nodes.setdefault(r.label, set()).add(r.key)
    got_edges: dict[str, set] = {}
    for r in g.edges.select("rel", "src", "dst").collect():
        got_edges.setdefault(r.rel, set()).add((r.src, r.dst))

    exp_nodes = {k: v for k, v in exp_nodes.items() if v}
    exp_edges = {k: v for k, v in exp_edges.items() if v}
    assert got_nodes == exp_nodes
    assert got_edges == exp_edges


def _assert_props(g, traces, fnames):
    _nodes, _edges, props = simulate_full(traces, fnames)

    got_proc = {
        r["key"]: (r["image"], r["command_line"], r["process_guid"],
                   r["parent_process_guid"])
        for r in g.process.collect()
    }
    exp_proc = {
        k: (v["image"], v["command_line"], v["process_guid"],
            v["parent_process_guid"])
        for k, v in props["process"].items()
    }
    assert got_proc == exp_proc

    got_rv = {r["path"]: r["value_name"] for r in g.registry_value.collect()}
    assert got_rv == dict(props["registry_value"])

    got_wf = {r["name"]: r["query"] for r in g.wmi_filter.collect()}
    assert got_wf == dict(props["wmi_filter"])
    got_wc = {r["name"]: r["command"] for r in g.wmi_consumer.collect()}
    assert got_wc == dict(props["wmi_consumer"])

    got_edge = {
        (r["rel"], r["src"], r["dst"]): tuple(r[p] for p in EDGE_PROP_NAMES)
        for r in g.edges.collect()
    }
    exp_edge = {
        k: tuple(v[p] for p in EDGE_PROP_NAMES)
        for k, v in props["edge"].items()
    }
    assert got_edge == exp_edge


def test_every_route_matches_both_oracles(spark, tmp_path):
    """A trace with one span per event route: every node label and
    relationship the ingest can emit appears, and shapes and
    properties (edge props included) match both oracles."""
    g, fnames = _build(spark, tmp_path, ALL_ROUTES)
    try:
        exp_nodes, exp_edges, props = simulate_full(ALL_ROUTES, fnames)
        assert set(exp_nodes) == ALL_LABELS
        assert set(exp_edges) == ALL_RELS
        modes = {v["mode"] for (rel, _, _), v in props["edge"].items()
                 if rel == "CREATED_EXECUTABLE"}
        assert modes == {"blocked", "detected"}
        _assert_shape(g, ALL_ROUTES, fnames)
        _assert_props(g, ALL_ROUTES, fnames)
    finally:
        g.unpersist()


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(traces=st.lists(trace_st, min_size=1, max_size=3))
def test_generated_traces_match_python_oracle(spark, tmp_path_factory, traces):
    g, fnames = _build(spark, tmp_path_factory.mktemp("prop"), traces)
    try:
        _assert_shape(g, traces, fnames)
    finally:
        g.unpersist()


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(traces=st.lists(trace_st, min_size=1, max_size=3))
def test_generated_traces_match_property_simulator(
    spark, tmp_path_factory, traces
):
    """r7: the PROPERTY-tracking simulator (oracle_sim.simulate_full —
    the independent derivation behind the g66/g77 constant oracles)
    must reproduce the engine's property semantics on ADVERSARIAL
    generated traces too, not just the fixed corpus: last-writer-wins
    edge props (details keep-old), ON-CREATE guid/pguid drop,
    last-non-null process/WMI props, RegistryValue last-write-incl-
    NULL."""
    g, fnames = _build(spark, tmp_path_factory.mktemp("propfull"), traces)
    try:
        _assert_props(g, traces, fnames)
    finally:
        g.unpersist()
