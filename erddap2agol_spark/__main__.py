"""CLI entry point — the Spark-first analog of the reference's CUI menu
(`erddap2agol/run.py:35` `run.cui()`): every capability the menu exposed
is a named query here, runnable by name against any SF directory.

    python -m erddap2agol_spark list [--filter SUBSTR]
    python -m erddap2agol_spark run QUERY [--sf-dir DIR] [--show N]
    python -m erddap2agol_spark explain QUERY [--sf-dir DIR]
    python -m erddap2agol_spark audit QUERY [--sf-dir DIR]
    python -m erddap2agol_spark oracle QUERY
    python -m erddap2agol_spark sql "SELECT ..." [--sf-dir DIR]

`sql` registers the test tables as temp views and runs raw Spark SQL —
the full declarative surface, not just the curated registry.
"""

from __future__ import annotations

import argparse
import os
import sys

DEFAULT_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


from contextlib import contextmanager


@contextmanager
def _spark():
    """Yield a session; stop it ONLY if this call created it.

    ``getOrCreate`` hands back any live session in the process (e.g. the
    host application's, or a test harness's) — stopping a borrowed session
    kills it for its real owner, so teardown is conditional on ownership.
    """
    from pyspark.sql import SparkSession

    from .session import get_spark

    # getActiveSession is THREAD-LOCAL; a host session created on another
    # thread is only visible through the process-global instantiated
    # session — which is exactly what getOrCreate would hand back and
    # stop would kill (PySpark exposes no public default-session getter)
    borrowed = SparkSession.getActiveSession() or getattr(
        SparkSession, "_instantiatedSession", None
    )
    if borrowed is not None:
        yield borrowed
        return
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    try:
        yield spark
    finally:
        spark.stop()


def _registry():
    from .queries import REGISTRY, _load_all

    _load_all()
    return REGISTRY


def cmd_list(args) -> int:
    reg = _registry()
    for name in sorted(reg):
        if args.filter and args.filter not in name:
            continue
        spec = reg[name]
        kind = "oracle" if spec.oracle else "rows-only"
        doc = " ".join((spec.doc or "").split())[:90]
        print(f"{name:32s} [{kind}] {doc}")
    return 0


def cmd_run(args) -> int:
    from .plans.lifecycle import pinned

    reg = _registry()
    if args.query not in reg:
        print(f"unknown query {args.query!r}; see `list`", file=sys.stderr)
        return 2
    with _spark() as spark:
        with pinned(reg[args.query].spark(spark, args.sf_dir)) as df:
            df.show(args.show, truncate=False)
            print(f"[{df.count()} rows]")  # reads the cache, no second run
    return 0


def cmd_explain(args) -> int:
    reg = _registry()
    if args.query not in reg:
        print(f"unknown query {args.query!r}; see `list`", file=sys.stderr)
        return 2
    with _spark() as spark:
        reg[args.query].spark(spark, args.sf_dir).explain("formatted")
    return 0


def cmd_oracle(args) -> int:
    reg = _registry()
    if args.query not in reg:
        print(f"unknown query {args.query!r}; see `list`", file=sys.stderr)
        return 2
    sql = reg[args.query].oracle
    print(sql if sql else "-- rows-only query: no SQL oracle")
    return 0


def cmd_audit(args) -> int:
    """Run the plan audit (plans/audit.py — the same detectors the test
    suite applies registry-wide) against one query and print findings."""
    reg = _registry()
    if args.query not in reg:
        print(f"unknown query {args.query!r}; see `list`", file=sys.stderr)
        return 2
    from .plans.audit import audit

    with _spark() as spark:
        findings = audit(reg[args.query].spark(spark, args.sf_dir))
    if not findings:
        print(f"{args.query}: OK — no scale anti-patterns detected")
        return 0
    for f in findings:
        # same shape assert_scalable uses: [kind] detail
        print(f"{args.query}: [{f.kind}] {f.detail}")
    return 1


def cmd_sql(args) -> int:
    from .sources.tables import register_views

    with _spark() as spark:
        register_views(spark, args.sf_dir)
        spark.sql(args.statement).show(args.show, truncate=False)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="erddap2agol_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    lp = sub.add_parser("list", help="list registered queries")
    lp.add_argument("--filter", default="")
    lp.set_defaults(fn=cmd_list)

    for name, fn in (("run", cmd_run), ("explain", cmd_explain)):
        sp = sub.add_parser(name)
        sp.add_argument("query")
        sp.add_argument("--sf-dir", default=DEFAULT_SF)
        if name == "run":
            sp.add_argument("--show", type=int, default=20)
        sp.set_defaults(fn=fn)

    op = sub.add_parser("oracle", help="print a query's DuckDB oracle SQL")
    op.add_argument("query")
    op.set_defaults(fn=cmd_oracle)

    ap = sub.add_parser(
        "audit", help="plan-audit a query for scale anti-patterns"
    )
    ap.add_argument("query")
    ap.add_argument("--sf-dir", default=DEFAULT_SF)
    ap.set_defaults(fn=cmd_audit)

    qp = sub.add_parser("sql", help="run raw Spark SQL over the tables")
    qp.add_argument("statement")
    qp.add_argument("--sf-dir", default=DEFAULT_SF)
    qp.add_argument("--show", type=int, default=20)
    qp.set_defaults(fn=cmd_sql)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
