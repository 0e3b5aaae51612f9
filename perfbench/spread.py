"""Run one workload over several seeds and report each end-to-end
metric's median and quartile spread (IQR / median).

    python3 perfbench/spread.py --workload upsert --seeds 1-10

Quartiles are ``statistics.quantiles(values, n=4)``. Each run is
``perfbench/run.py`` with ``--trace 0``; run from the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="5")
    args = ap.parse_args(argv)
    values: dict[str, list[float]] = {}
    shares = set()
    for seed in _seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
            capture_output=True, text=True,
        )
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
            continue
        out = proc.stdout.strip().splitlines()
        info = json.loads(out[-2])["perfbench_info"]
        res = json.loads(out[-1])
        shares.add((res["failed"], res["attempted"]))
        row = {k: v["value"] for k, v in res["metrics"].items()}
        # wall-time figures from the info line, reported beside the gated ones
        row.update({k: info[k] for k in ("op_p50_s", "ops_per_s", "setup_wall_s")})
        print(json.dumps({"seed": seed, "correct": res["correct"],
                          "steal": info["steal_share"], **row}))
        for k, v in row.items():
            values.setdefault(k, []).append(v)
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{k:14s} median {statistics.median(vs):10.4f}  iqr/median {(q3 - q1) / med:.4f}")
    print(f"failed/attempted: {sorted(shares)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
