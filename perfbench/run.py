"""Provenance-graph engine benchmark: one workload, one run.

    python3 perfbench/run.py --workload investigate --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it records the
box state and run details. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS_MAX = 4  # Spark local[N]; pinned at or below nproc
DRIVER_MEMORY = "1g"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _import_program() -> None:
    """Fail fast, before any input is made, when the program is absent."""
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import graphdb_neo4j_spark  # noqa: F401
    import tests.oracle_sim  # noqa: F401
    import tools.corpus_golden_calc  # noqa: F401


def _start_spark(workload: str, workdir: str, traced: bool):
    from graphdb_neo4j_spark import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}",
    }
    if traced:
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    spark = get_spark(f"perfbench-{workload}", **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    forked) to exit."""
    import procstat
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while len(procstat.tree()) > 1 and time.time() < deadline:
        time.sleep(0.1)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


LAYER_TIMES = {
    "ingest.build": "ingest.build_s",
    "ingest.materialize": "ingest.materialize_s",
    "cypher.compile": "cypher.compile_s",
    "cypher.run": "cypher.run_s",
    "traversal.components": "traversal.components_s",
    "traversal.bfs": "traversal.bfs_s",
    "traversal.pagerank": "traversal.pagerank_s",
    "cypher_write.execute": "cypher_write.execute_s",
    "cypher_write.compact": "cypher_write.compact_s",
    "cypher_write.read": "cypher_write.read_s",
}
LAYER_COUNTS = {
    "ingest": ("jobs", "tasks", "nonjob_s", "exec_cpu_s", "exec_wait_s", "shuffle_mb"),
    "cypher": ("jobs", "nonjob_s", "exec_cpu_s"),
    "traversal": ("jobs", "nonjob_s", "exec_cpu_s", "shuffle_mb"),
    "cypher_write": ("jobs", "nonjob_s", "exec_cpu_s"),
}


def _span_key(name: str) -> str:
    """``cypher.compile.lookup`` -> ``cypher.compile``."""
    parts = name.split(".")
    return ".".join(parts[:2])


def layer_values(spans: list[dict]) -> dict:
    """Per-layer sums over the spans of one op, or of set-up."""
    out: dict[str, float] = {}
    for sp in spans:
        key = _span_key(sp["name"])
        layer = key.split(".")[0]
        t = LAYER_TIMES.get(key)
        if t:
            out[t] = out.get(t, 0.0) + sp["end"] - sp["start"]
        fields = {
            "jobs": sp["jobs"], "tasks": sp["tasks"], "nonjob_s": sp["nonjob_s"],
            "exec_cpu_s": sp["exec_cpu_s"],
            "exec_wait_s": max(0.0, sp["exec_run_s"] - sp["exec_cpu_s"]),
            "shuffle_mb": sp["shuffle_bytes"] / 2**20,
        }
        for f in LAYER_COUNTS.get(layer, ()):
            out[f"{layer}.{f}"] = out.get(f"{layer}.{f}", 0.0) + fields[f]
    return out


def per_layer_metrics(op_layers: list[dict], setup_layers: list[dict], extra: dict) -> dict:
    names = list(LAYER_TIMES.values()) + [
        f"{layer}.{f}" for layer, fs in LAYER_COUNTS.items() for f in fs
    ]
    metrics = {}
    for n in names:
        # a layer the ops never call is reported from the set-up spans
        # (upsert ingests there), else as 0
        src = op_layers if any(n in d for d in op_layers) else setup_layers
        vals = [d.get(n, 0.0) for d in src]
        metrics[n] = _median(vals) if any(n in d for d in src) else 0.0
    metrics.update(extra)

    def unit(name: str) -> str:
        if name.endswith((".jobs", ".tasks")):
            return "count"
        return "MB" if "_mb" in name else "s"

    return {n: {"value": v, "unit": unit(n)} for n, v in metrics.items()}


def run(args) -> int:
    import procstat
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    t_run = time.perf_counter()
    traced = bool(args.trace)
    workdir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    cpus = min(CPUS_MAX, procstat.nproc())
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    box = procstat.BoxState()
    try:
        # inputs and oracles: not part of setup_s
        w = WORKLOADS[args.workload](args.seed, workdir)
        with procstat.RssSampler() as rss:
            result, info = _measure(w, args, traced, workdir)
        info["peak_rss_mb"] = rss.peak / 2**20
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    if not traced:
        result["metrics"]["peak_rss_mb"] = {"value": info["peak_rss_mb"], "unit": "MB"}
    info.update(box.read(), spark_cpus=cpus, workload=args.workload, seed=args.seed,
                seconds=args.seconds, trace=args.trace)
    info["run_wall_s"] = round(time.perf_counter() - t_run, 4)
    print(json.dumps({"perfbench_info": info}))
    print(json.dumps(result))
    return 0


def _measure(w, args, traced: bool, workdir: str):
    import procstat
    from pyspark import SparkContext
    from tracing import NullTracer, SparkTracer

    # setup_s is the CPU the process tree spends from here to the first
    # timed op: unlike wall time it does not follow the load of other
    # tenants of a shared box (see README)
    c_setup = procstat.tree_cpu_seconds()
    t_sess = time.perf_counter()
    spark = _start_spark(w.name, workdir, traced)
    session_s = time.perf_counter() - t_sess
    tr = SparkTracer(spark) if traced else NullTracer()
    jvm_pid = SparkContext._gateway.proc.pid
    stats = {"attempted": 0, "failed": 0, "correct": True}
    op_times, op_cpu, op_layers, remainders, jvm_nontask, gc = [], [], [], [], [], []

    def run_op(i: int) -> None:
        w.prepare_op(i)
        if traced:
            tr.begin_op(i)
            jvm0, gc0 = procstat.cpu_seconds([jvm_pid]), tr.gc_seconds()
        c0 = procstat.tree_cpu_seconds()
        t0 = time.perf_counter()
        res = w.op(i, tr)
        dt = time.perf_counter() - t0
        c1 = procstat.tree_cpu_seconds()
        if traced:
            jvm1, gc1 = procstat.cpu_seconds([jvm_pid]), tr.gc_seconds()
            tr.begin_op(None)
        stats["attempted"] += 1
        if not w.check(i, res):
            stats["failed"] += 1
            stats["correct"] = False
            print(f"op {i} failed its check {getattr(w, 'last_checks', '')}", file=sys.stderr)
        op_times.append(dt)
        op_cpu.append(c1 - c0)
        if traced:
            spans = tr.op_spans(i)
            tr.attribute(spans)
            op_layers.append(layer_values(spans))
            top = sum(sp["end"] - sp["start"] for sp in spans if sp["parent"] is None)
            remainders.append(dt - top)
            jvm_nontask.append(jvm1 - jvm0 - sum(sp["exec_cpu_s"] for sp in spans))
            gc.append(gc1 - gc0)

    try:
        t = time.perf_counter()
        w.setup(spark, tr)
        workload_setup_s = time.perf_counter() - t
        setup_cpu_s = procstat.tree_cpu_seconds() - c_setup
        t = time.perf_counter()
        if not w.check_setup():
            stats["correct"] = False
            print("setup failed its check", file=sys.stderr)
        check_setup_s = time.perf_counter() - t
        setup_layers = []
        if traced:
            setup_spans = [sp for sp in tr.spans if sp["op"] is None]
            tr.attribute(setup_spans)
            setup_layers = [layer_values(setup_spans)]
        # each run attempts whole rounds of the same operations; the
        # first, JIT-cold op is timed too (no warm-up: see README)
        i = 0
        while not op_times or sum(op_times) < args.seconds:
            for _ in range(w.round_ops):
                run_op(i)
                i += 1
        storage_mb = tr.storage_bytes() / 2**20 if traced else None
        w.teardown()
    finally:
        t = time.perf_counter()
        _stop_spark(spark)
        stop_s = time.perf_counter() - t
    info = {
        "ops_timed": len(op_times),
        "op_s": [round(x, 4) for x in op_times],
        "session_start_s": round(session_s, 4),
        "workload_setup_s": round(workload_setup_s, 4),
        "setup_wall_s": round(session_s + workload_setup_s, 4),
        "setup_cpu_s": round(setup_cpu_s, 4),
        "check_setup_s": round(check_setup_s, 4),
        "stop_s": round(stop_s, 4),
    }
    n = len(op_times)
    if traced:
        extra = {
            "session.start_s": session_s,
            "setup.workload_s": workload_setup_s,
            "jvm.nontask_cpu_s": _median(jvm_nontask),
            "jvm.gc_s": _median(gc),
            "spark.storage_mb_end": storage_mb,
        }
        metrics = per_layer_metrics(op_layers, setup_layers, extra)
        info["traced_op_p50_s"] = round(_median(op_times), 4)
        info["span_remainder_s"] = [round(x, 4) for x in remainders]
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{w.name}-seed{args.seed}.json")
        tr.write(path, {"info": info, "per_layer": metrics})
        info["trace_file"] = os.path.relpath(path, ROOT)
    else:
        metrics = {
            "setup_s": {"value": setup_cpu_s, "unit": "s"},
            "cpu_s_per_op": {"value": sum(op_cpu) / n, "unit": "s"},
        }
        # wall time per op follows the shared box's load (see README):
        # reported, not gated
        info["ops_per_s"] = n / sum(op_times)
        info["op_p50_s"] = _median(op_times)
    result = {"correct": stats["correct"], "attempted": stats["attempted"],
              "failed": stats["failed"], "metrics": metrics}
    return result, info


def main(argv=None) -> int:
    args = _parse(argv)
    try:
        _import_program()
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
