"""Seeded synthetic Jaeger/Sysmon trace corpus.

The reference corpus (SURVEY.md §1.1, BASELINE.md) is one Jaeger trace
JSON file per malware detonation. This generator reproduces its shape,
not its content:

* about 14 spans per file: 85% of files draw 6-16 spans, 15% draw
  20-40 (mean 13.85; the reference mean is 13.8 with a long tail to 452);
* the EventID mix 1/5/11/22/13/8/3 in the reference's proportions
  (5851/5779/2244/1150/673/300/269), carried as an ``int64`` ``ID`` tag;
* every file's first process is spawned by the shared all-zero GUID
  parent, so SPAWNS has one hub that joins the traces into one large
  weakly connected component;
* flat process trees, as in the reference (BFS depths from the SPAWNS
  roots 0/1/2/3: 3,193/5,427/89/1): a later process create names as
  its parent the all-zero GUID or one of the file's one to three
  launchers, processes that started before the trace and appear only
  as a ``ParentProcessGuid``; 2.5% of creates name a process of the
  trace, which gives the rare deeper node;
* process identity is a mix of GUID keys (event 1 always, other events
  85% of the time) and pid keys (``ProcessId`` + ``sysmon.ppid`` only),
  so one real process can appear under two keys, and a GUID-keyed child
  can have both a GUID parent and a ``{trace}:{ppid}`` parent, as in the
  reference; events go first to processes that have not acted yet, so
  most creates get that second parent;
* about 22% of files carry one tag-less ``process:<PID>`` root span,
  which the loader skips.

Everything is drawn from ``random.Random`` seeded per file, so a seed
and a file index always give the same bytes.
"""

from __future__ import annotations

import json
import os
import random
from collections import Counter

ZERO_GUID = "00000000-0000-0000-0000-000000000000"

# (EventID, weight) of the spans after each file's first process
# create: the reference counts (5851/5779/2244/1150/673/300/269), with
# event 1 lowered so that, counting the first create, it keeps its
# reference share (35%) at 14 spans per file
EVENT_WEIGHTS = ((1, 4464), (5, 5779), (11, 2244), (22, 1150), (13, 673), (8, 300), (3, 269))
GUID_SHARE = 0.85  # non-create events that carry ProcessGuid
QUIET_SHARE = 0.8  # events of the oldest process that has not acted yet
ROOT_SPAN_SHARE = 0.22  # files with a tag-less ``process:<PID>`` span
ZERO_PARENT_SHARE = 0.35  # later creates whose parent is the all-zero GUID
NESTED_SHARE = 0.025  # later creates whose parent is a process of the trace

IMAGES = [
    "C:\\Windows\\System32\\cmd.exe",
    "C:\\Windows\\System32\\WindowsPowerShell\\v1.0\\powershell.exe",
    "C:\\Windows\\System32\\rundll32.exe",
    "C:\\Windows\\System32\\reg.exe",
    "C:\\Windows\\System32\\schtasks.exe",
    "C:\\Windows\\System32\\wbem\\WmiPrvSE.exe",
    "C:\\Users\\Public\\sample.exe",
    "C:\\Windows\\explorer.exe",
]
HOSTS = ["-", "update.example.com", "cdn.example.net", "c2.example.org"]
N_SHARED_FILES = 200  # File keys shared across traces
N_SHARED_REG = 60
N_IPS = 40


def _guid(rng: random.Random) -> str:
    # the reference's OTel export writes GUIDs without Sysmon's braces
    h = "%032x" % rng.getrandbits(128)
    return "%s-%s-%s-%s-%s" % (h[:8], h[8:12], h[12:16], h[16:20], h[20:])


def _tag(key: str, value) -> dict:
    kind = "int64" if isinstance(value, int) else "string"
    return {"key": key, "type": kind, "value": value}


def _span_count(rng: random.Random) -> int:
    if rng.random() < 0.85:
        return rng.randint(6, 16)
    return rng.randint(20, 40)


def make_trace(seed: int, index: int) -> tuple[str, dict]:
    """One trace file: ``(filename, document)``."""
    rng = random.Random(f"{seed}:{index}")
    trace_id = "%032x" % rng.getrandbits(128)
    t = 1_700_000_000_000_000 + index * 10_000_000
    spans: list[dict] = []
    procs: list[dict] = []  # guid, pid, image, parent (dict or None)
    # started before the trace: seen only as a create's parent
    launchers = [
        {"guid": _guid(rng), "pid": rng.randint(100, 65000), "parent": None}
        for _ in range(rng.randint(1, 3))
    ]

    def next_time() -> int:
        nonlocal t
        # ~10% ties: the loader's stable startTime sort must keep file order
        t += 0 if rng.random() < 0.1 else rng.randint(1, 5000)
        return t

    def identity(p: dict, with_guid: bool) -> list[dict]:
        # every non-create event carries sysmon.ppid, so a GUID-keyed
        # process also gets a "{trace}:{ppid}" parent: the reference's
        # children with two SPAWNS parents
        ppid = p["parent"]["pid"] if p["parent"] else 4
        tags = [_tag("ProcessId", p["pid"]), _tag("sysmon.ppid", ppid)]
        return [_tag("ProcessGuid", p["guid"])] + tags if with_guid else tags

    def create() -> dict:
        r = rng.random()
        if not procs or NESTED_SHARE <= r < NESTED_SHARE + ZERO_PARENT_SHARE:
            parent = None  # the all-zero GUID
        elif r < NESTED_SHARE:
            parent = rng.choice(procs)
        else:
            parent = rng.choice(launchers)
        p = {
            "guid": _guid(rng),
            "pid": rng.randint(100, 65000),
            "image": rng.choice(IMAGES),
            "parent": parent,
            "acted": False,
        }
        procs.append(p)
        tags = [
            _tag("ID", 1),
            _tag("ProcessGuid", p["guid"]),
            _tag("ProcessId", p["pid"]),
            _tag("Image", p["image"]),
            _tag("CommandLine", f"{p['image']} /task {rng.randint(0, 999)}"),
            _tag("ParentProcessGuid", parent["guid"] if parent else ZERO_GUID),
            _tag("ParentProcessId", parent["pid"] if parent else 4),
        ]
        return {"startTime": next_time(), "tags": tags}

    def event(ev: int) -> dict:
        # most processes act at least once: the reference's children
        # with two SPAWNS parents are 90% of its process creates
        quiet = [q for q in procs if not q["acted"]]
        p = quiet[0] if quiet and rng.random() < QUIET_SHARE else rng.choice(procs)
        p["acted"] = True
        with_guid = rng.random() < GUID_SHARE
        tags = [_tag("ID", ev)]
        if ev == 8:
            target = rng.choice(procs)
            tags += [
                _tag("SourceProcessGuid", p["guid"]),
                _tag("SourceProcessId", p["pid"]),
                _tag("SourceImage", p["image"]),
                _tag("TargetProcessGuid", target["guid"]),
                _tag("TargetProcessId", target["pid"]),
            ]
            return {"startTime": next_time(), "tags": tags}
        tags += identity(p, with_guid) + [_tag("Image", p["image"])]
        if ev == 11:
            if rng.random() < 0.7:
                name = f"C:\\Users\\Public\\drop{rng.randrange(N_SHARED_FILES)}.dat"
            else:
                name = f"C:\\Temp\\{trace_id[:8]}\\f{rng.randrange(1000)}.tmp"
            tags.append(_tag("TargetFilename", name))
        elif ev == 22:
            tags += [
                _tag("QueryName", rng.choice(HOSTS[1:])),
                _tag("QueryStatus", "0"),
                _tag("QueryResults", "type: 5 example.net"),
            ]
        elif ev == 13:
            tags += [
                _tag("EventType", "SetValue"),
                _tag(
                    "TargetObject",
                    "HKLM\\SOFTWARE\\Microsoft\\Windows\\CurrentVersion\\Run\\"
                    f"v{rng.randrange(N_SHARED_REG)}",
                ),
                _tag("Details", f"C:\\Users\\Public\\sample{rng.randrange(9)}.exe"),
            ]
        elif ev == 3:
            tags += [
                _tag("Protocol", rng.choice(["tcp", "udp"])),
                _tag("DestinationIp", f"10.0.{rng.randrange(4)}.{rng.randrange(N_IPS)}"),
                _tag("DestinationPort", rng.choice([53, 80, 443, 8080])),
                _tag("DestinationHostname", rng.choice(HOSTS)),
            ]
        return {"startTime": next_time(), "tags": tags}

    n = _span_count(rng)
    spans.append(create())
    evs = [e for e, _ in EVENT_WEIGHTS]
    weights = [w for _, w in EVENT_WEIGHTS]
    for ev in rng.choices(evs, weights, k=n - 1):
        spans.append(create() if ev == 1 else event(ev))
    if rng.random() < ROOT_SPAN_SHARE:
        pid = rng.randint(100, 65000)
        spans.insert(0, {
            "operationName": f"process:{pid}",
            "startTime": t - 20_000_000,
            "tags": [_tag("otel.scope.name", "sysmon"), _tag("span.kind", "internal")],
        })
    for i, s in enumerate(spans):
        s["spanID"] = "%016x" % rng.getrandbits(64)
        s.setdefault("operationName", f"evt:{i}")
    doc = {"traceID": trace_id, "spans": spans, "processes": {}, "warnings": None}
    return f"trace-{trace_id}.json", doc


def make_batch(seed: int, first: int, n_files: int) -> tuple[list[str], list[dict]]:
    """Files ``first .. first+n_files-1`` of the seed's corpus, in
    sorted-filename order (the loader's read order)."""
    pairs = sorted(make_trace(seed, i) for i in range(first, first + n_files))
    return [name for name, _ in pairs], [doc for _, doc in pairs]


def write_batch(directory: str, names: list[str], docs: list[dict]) -> str:
    """Write one batch as JSON files; return the loader glob."""
    os.makedirs(directory, exist_ok=True)
    for name, doc in zip(names, docs):
        with open(os.path.join(directory, name), "w", encoding="utf-8") as f:
            json.dump(doc, f)
    return os.path.join(directory, "*.json")


def shape(docs: list[dict]) -> dict:
    """Make-up statistics, for comparison with the reference corpus."""
    ev = Counter()
    n_spans = 0
    for d in docs:
        for s in d["spans"]:
            n_spans += 1
            ids = [t["value"] for t in s["tags"] if t["key"] == "ID"]
            ev[ids[0] if ids else None] += 1
    return {
        "files": len(docs),
        "spans": n_spans,
        "spans_per_file": round(n_spans / max(1, len(docs)), 2),
        "event_mix": {str(k): v for k, v in sorted(ev.items(), key=lambda kv: -kv[1])},
    }
