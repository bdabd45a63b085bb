#!/usr/bin/env python
"""Time a SUBSET of registry queries in one session — the A/B loop tool.
Usage:

  SPARK_GRAFT_CPUS=32 python tools/bench_subset.py q1 q2 ... [--runs N]

Same session and table warm-up as bench.py, then every named query runs
once untimed (its checkpoints released), so no query's timed runs carry
its cold JIT and codegen and the result does not depend on query order.
Then each query runs N times (default 3) in the order given, every run
timed as ``spec.spark()`` + ``count()`` with its checkpoints released
after the clock stops.  Prints one JSON line with the loadavg and all N
times per query; take the median or minimum yourself.
"""

from __future__ import annotations

import json
import os
import sys
import time


def time_queries(
    spark, specs: dict, sf_dir: str, n_runs: int
) -> dict[str, list[float]]:
    """One untimed warm-up run of every spec in ``specs`` (name -> spec),
    then ``n_runs`` timed runs per spec; returns name -> run seconds."""
    from erddap2agol_spark.plans.lifecycle import release_checkpoints

    for spec in specs.values():
        df = spec.spark(spark, sf_dir)
        df.count()
        release_checkpoints(df)
    out: dict[str, list[float]] = {}
    for name, spec in specs.items():
        runs = []
        for _ in range(n_runs):
            t0 = time.time()
            df = spec.spark(spark, sf_dir)
            df.count()
            runs.append(round(time.time() - t0, 3))
            release_checkpoints(df)
        out[name] = runs
    return out


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo not in sys.path:
        sys.path.insert(0, repo)
    argv = sys.argv[1:]
    n_runs = 3
    if "--runs" in argv:
        i = argv.index("--runs")
        try:
            n_runs = int(argv[i + 1])
        except (IndexError, ValueError):
            print(__doc__, file=sys.stderr)
            sys.exit(2)
        del argv[i : i + 2]
    names = [a for a in argv if not a.startswith("--")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from erddap2agol_spark.queries import REGISTRY, _load_all
    from erddap2agol_spark.session import get_spark

    _load_all()
    spark = get_spark(app_name="bench-subset")
    from erddap2agol_spark.sources.tables import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).schema
    load_table(spark, sf_dir, "region").groupBy("r_name").count().count()

    out = time_queries(spark, {n: REGISTRY[n] for n in names}, sf_dir, n_runs)
    print(json.dumps({"loadavg": list(os.getloadavg()), "runs": out}))
    spark.stop()


if __name__ == "__main__":
    main()
