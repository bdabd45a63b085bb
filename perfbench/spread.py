"""Run-to-run spread of the end-to-end metrics.  Run from the repository
root:

    python3 perfbench/spread.py --workload query_suite --seeds 1-10 [--seconds 10]

Runs the benchmark once per seed, one run at a time, then prints for each
end-to-end metric its median and the distance between the first and
third quartile of the runs (``statistics.quantiles(values, n=4)``) as a
share of the median, next to the bound BENCHMARK.json allows.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join("perfbench", "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", "0"],
            capture_output=True, text=True, timeout=600,
        )
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-1500:]}")
            return 1
        res = json.loads(lines[-1])
        print(f"seed {seed}: failed={res['failed']} " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, v in values.items():
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4)
        print(f"{k:14s} median={med:.4g} spread={(q3 - q1) / med:.3f} bound={bounds[k]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
