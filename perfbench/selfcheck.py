"""Self-checks of the benchmark itself.  Run from the repository root:

    python3 perfbench/selfcheck.py [--smoke]

1. The same seed writes byte-identical inputs (every generator, twice).
2. The workload and metric names the benchmark prints equal the ones
   BENCHMARK.json declares.
3. With ``--smoke``: a short run of every workload, traced and untraced,
   must print every declared metric and finish with no failed op.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile


def check_inputs_deterministic(root: str) -> None:
    from perfbench import inputs

    def write_all(d: str, seed: int) -> str:
        inputs.batch_inputs(os.path.join(d, "batch"), seed)
        inputs.nrt_inputs(os.path.join(d, "nrt"), seed, 4)
        inputs.query_tables(os.path.join(d, "tables"), seed)
        return inputs.tree_digest(d)

    base = os.path.join(root, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=base) as a, \
            tempfile.TemporaryDirectory(dir=base) as b, \
            tempfile.TemporaryDirectory(dir=base) as c:
        da, db, dc = write_all(a, 7), write_all(b, 7), write_all(c, 8)
    assert da == db, "the same seed wrote different inputs"
    assert da != dc, "different seeds wrote identical inputs"
    assert inputs.changed_sets(7, 16, 5, 0.25) == inputs.changed_sets(7, 16, 5, 0.25)
    print("inputs: byte-identical for one seed, different across seeds")


def check_names(root: str) -> None:
    from perfbench import metrics

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(metrics.WORKLOADS), \
        "workload names differ from BENCHMARK.json"
    for key, mine in (("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)):
        declared = [(m["name"], m["unit"]) for m in bench[key]]
        assert declared == list(mine), f"{key} names/units differ from BENCHMARK.json"
    print("names: workloads and metrics match BENCHMARK.json")


def smoke(root: str) -> None:
    from perfbench import metrics

    for wl in metrics.WORKLOADS:
        for trace, names in ((0, metrics.END_TO_END), (1, metrics.PER_LAYER)):
            out = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", wl, "--seed", "1",
                 "--seconds", "1", "--trace", str(trace)],
                cwd=root, capture_output=True, text=True, timeout=900,
            )
            assert out.returncode == 0, f"{wl} trace={trace} exited {out.returncode}:\n{out.stderr[-2000:]}"
            res = json.loads(out.stdout.strip().splitlines()[-1])
            assert res["failed"] == 0 and res["correct"], f"{wl} trace={trace}: {out.stdout[-1500:]}"
            assert set(res["metrics"]) == {n for n, _ in names}, f"{wl}: metric names differ"
            print(f"smoke: {wl} trace={trace} ok, error_rate 0 over {res['attempted']} ops")


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    check_inputs_deterministic(root)
    check_names(root)
    if "--smoke" in sys.argv[1:]:
        smoke(root)
    return 0


if __name__ == "__main__":
    sys.exit(main())
