#!/usr/bin/env python
"""bench.py semantics (same session config, same warmup, same timed
action, best-of-<=3 with the 5% early stop) for a SUBSET of queries —
the A/B loop tool.  Usage:

  SPARK_GRAFT_CPUS=32 python tools/bench_subset.py q1 q2 ... [--runs N]
"""

from __future__ import annotations

import json
import os
import sys
import time


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

    from erddap2agol_spark.operators.dedup import release_checkpoints
    from erddap2agol_spark.queries import REGISTRY, _load_all
    from erddap2agol_spark.session import get_spark

    _load_all()
    spark = get_spark(app_name="bench-subset")
    from erddap2agol_spark.sources.tables import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).schema
    load_table(spark, sf_dir, "region").groupBy("r_name").count().count()

    out: dict[str, list[float]] = {}
    for name in names:
        spec = REGISTRY[name]
        runs = []
        for _ in range(n_runs):
            t0 = time.time()
            df = spec.spark(spark, sf_dir)
            df.count()
            runs.append(round(time.time() - t0, 3))
            release_checkpoints(df)
        out[name] = runs
    print(json.dumps({"loadavg": list(os.getloadavg()), "runs": out}))
    spark.stop()


if __name__ == "__main__":
    main()
