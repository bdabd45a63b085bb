"""query_suite: warm passes over ten registry queries on seeded parquet
tables — Catalyst planning, execution and checkpoint lifecycle, with no
wire traffic."""

from __future__ import annotations

import os
import time

from perfbench import inputs
from perfbench.common import Op
from perfbench.spans import job_stats, spark_phases_s

QUERIES = (
    "pagerank_copurchase",
    "label_prop_communities",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "lm_perplexity_agg",
    "corpus_manifest",
    "ann_sign_lsh",
    "pricing_summary",
    "track_segments",
    "q21_late_sole_suppliers",
)
#: lineitem rows = 6000 * TABLE_SCALE
TABLE_SCALE = 1
#: untimed passes before the window (the first one is the cold pass)
WARMUP_PASSES = 2


class _Collected:
    """Rows already collected from a query, in the shape
    ``oracle_harness.compare`` reads (``columns`` and ``collect()``)."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


class QuerySuite:
    def setup(self, ctx) -> None:
        from erddap2agol_spark.queries import REGISTRY, _load_all

        _load_all()
        self.specs = [REGISTRY[q] for q in QUERIES]
        self.data = os.path.join(ctx.work, "tables")
        inputs.query_tables(self.data, ctx.seed, TABLE_SCALE)
        self.last: dict[str, _Collected] = {}
        warm = []
        for _ in range(WARMUP_PASSES):
            t0 = time.perf_counter()
            self.cycle(ctx)
            warm.append(round(time.perf_counter() - t0, 3))
        ctx.notes["warmup_cycles_s"] = warm

    def instrument(self, ctx) -> None:
        from erddap2agol_spark.operators import dedup

        ctx.tracer.wrap(dedup, "release_checkpoints", "dedup.release")

    def _op(self, ctx, spec) -> Op:
        from erddap2agol_spark.operators import dedup

        tr, sc = ctx.tracer, ctx.spark.sparkContext
        traced = tr.enabled
        if traced:
            group = tr.begin_op(spec.name)
            sc.setJobGroup(group, spec.name)
            rdds0 = sc._jsc.getPersistentRDDs().size()
        t0 = time.perf_counter()
        with tr.span("queries.build", query=spec.name):
            df = spec.spark(ctx.spark, self.data)
        t1 = time.perf_counter()
        with tr.span("queries.action", query=spec.name):
            rows = df.collect()
        t2 = time.perf_counter()
        dedup.release_checkpoints(df)
        t3 = time.perf_counter()
        if traced:
            ph = spark_phases_s(df)
            plan = sum(ph.get(k, 0.0) for k in ("analysis", "optimization", "planning"))
            jobs, _ = job_stats(sc, group)
            tr.record(
                "queries.op", t0, t3, query=spec.name, build_s=t1 - t0,
                plan_s=plan,
                exec_s=(t2 - t1) - ph.get("optimization", 0.0) - ph.get("planning", 0.0),
                jobs=jobs,
                rdds_delta=sc._jsc.getPersistentRDDs().size() - rdds0,
            )
            sc.setJobGroup("idle", "between ops")
        self.last[spec.name] = _Collected(df.columns, [tuple(r) for r in rows])
        return Op(spec.name, t3 - t0, True)

    def cycle(self, ctx) -> list[Op]:
        return [self._op(ctx, spec) for spec in self.specs]

    def verify(self, ctx) -> int:
        """Compare the last measured pass with the DuckDB oracles."""
        from tests.oracle_harness import compare, duckdb_conn

        con = duckdb_conn(self.data)
        bad = 0
        try:
            for spec in self.specs:
                problems = compare(self.last[spec.name], con, spec.oracle)
                if problems:
                    bad += 1
                    ctx.notes.setdefault("mismatch", []).append(
                        f"{spec.name}: {problems[0][:300]}"
                    )
        finally:
            con.close()
        return bad

    def layer_metrics(self, ctx) -> dict:
        tr = ctx.tracer
        ops = tr.named("queries.op")
        out = {}
        for q in QUERIES:
            mine = [s for s in ops if s["query"] == q]
            for k in ("build_s", "plan_s", "exec_s", "jobs"):
                out[f"q.{q}.{k}"] = _mean([s[k] for s in mine])
        rel = tr.named("dedup.release")
        out["dedup.release_s"] = _mean([s["end"] - s["start"] for s in rel])
        out["spark.persistent_rdds_delta"] = _mean([s["rdds_delta"] for s in ops])
        return out

    def teardown(self, ctx) -> None:
        pass


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0
