"""Randomized invariants for the round-4 iterative/join operators:
seed-driven random inputs checked against pure-Python references and
against partitioning changes (results must be a pure function of the
data, never of the physical layout)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from erddap2agol_spark.operators.graph import (
    label_propagation,
    pointer_doubling_closure,
)
from erddap2agol_spark.operators.joins import interval_overlap_join
from erddap2agol_spark.plans.lifecycle import release_checkpoints


def _py_root_depth(parents: dict[int, int | None]) -> dict[int, tuple[int, int]]:
    out = {}

    def walk(n):
        if n in out:
            return out[n]
        p = parents[n]
        if p is None:
            out[n] = (n, 0)
        else:
            r, d = walk(p)
            out[n] = (r, d + 1)
        return out[n]

    for n in parents:
        walk(n)
    return out


def test_pointer_doubling_random_forests(spark):
    for seed in (0, 1, 2):
        rng = random.Random(seed)
        parents: dict[int, int | None] = {}
        for n in range(60):
            # parent is a strictly smaller id (guarantees a DAG forest)
            # or None with ~15% probability
            parents[n] = None if n == 0 or rng.random() < 0.15 else rng.randrange(n)
        df = spark.createDataFrame(
            list(parents.items()), "node int, parent int"
        )
        got = {
            r.node: (r.root, r.depth)
            for r in pointer_doubling_closure(df, rounds=6).collect()
        }
        assert got == _py_root_depth(parents), f"seed={seed}"


def test_lpa_invariant_under_partitioning(spark):
    rng = random.Random(7)
    edges = list({(rng.randrange(30), rng.randrange(30)) for _ in range(80)})
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "a int, b int")

    def run(parts):
        out = label_propagation(df.repartition(parts), iterations=3)
        got = sorted((r.node, r.label) for r in out.collect())
        release_checkpoints(out)
        return got

    assert run(2) == run(16)


def test_interval_overlap_random_vs_theta(spark):
    for seed in (3, 4):
        rng = random.Random(seed)
        mk = lambda n, off: [
            (i + off, float(rng.randrange(0, 60)), 0.0) for i in range(n)
        ]
        a_rows = [(i, lo, lo + rng.randrange(1, 9)) for i, lo, _ in mk(50, 0)]
        b_rows = [(i, lo, lo + rng.randrange(1, 6)) for i, lo, _ in mk(50, 100)]
        a = spark.createDataFrame(a_rows, "a_id int, lo_a double, hi_a double")
        b = spark.createDataFrame(b_rows, "b_id int, lo_b double, hi_b double")
        got = {
            (r.a_id, r.b_id)
            for r in interval_overlap_join(
                a, b, "lo_a", "hi_a", "lo_b", "hi_b", bin_width=5.0
            ).select("a_id", "b_id").collect()
        }
        want = {
            (r.a_id, r.b_id)
            for r in a.join(b, (a.lo_a < b.hi_b) & (b.lo_b < a.hi_a))
            .select("a_id", "b_id")
            .collect()
        }
        assert got == want, f"seed={seed}"


def test_histogram_quantiles_random_invariants(spark):
    """Seed-driven random data: every estimate lands within one bin
    width of the exact percentile, is monotone in q, and is invariant
    under repartitioning (a pure function of the data, never of the
    physical layout — the mergeable-summary property exercised)."""
    from erddap2agol_spark.operators.sketch import histogram_quantiles

    qs = [0.1, 0.5, 0.9]
    for seed, parts in ((11, 2), (12, 7), (13, 16)):
        rng = random.Random(seed)
        lo, hi = 0.0, rng.choice([64.0, 1000.0])
        nb = rng.choice([32, 128])
        width = (hi - lo) / nb
        vals = [rng.uniform(lo, hi) for _ in range(1500)]
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        got = {
            r["q"]: r["est_value"]
            for r in histogram_quantiles(
                df.repartition(parts), F.col("v"), qs, lo, hi, nb
            ).collect()
        }
        got2 = {
            r["q"]: r["est_value"]
            for r in histogram_quantiles(
                df.coalesce(1), F.col("v"), qs, lo, hi, nb
            ).collect()
        }
        assert got == got2, f"layout-dependent result, seed={seed}"
        svals = sorted(vals)
        for q in qs:
            h = (len(svals) - 1) * q
            exact = svals[int(h)] + (h - int(h)) * (
                svals[min(int(h) + 1, len(svals) - 1)] - svals[int(h)]
            )
            assert abs(got[q] - exact) <= width, (seed, q, got[q], exact)
        assert got[0.1] <= got[0.5] <= got[0.9]


def test_weighted_topk_random_invariants(spark):
    """Random weights: the sample has exactly min(k, n_eligible) rows,
    every member is weight-eligible, and the pick is invariant under
    repartitioning."""
    from erddap2agol_spark.operators.sampling import weighted_topk_sample

    for seed in (3, 4):
        rng = random.Random(seed)
        rows = [(i, rng.randrange(0, 6)) for i in range(80)]
        df = spark.createDataFrame(rows, "id int, wt int")
        eligible = {i for i, w in rows if w >= 1}
        k = rng.choice([5, 200])
        got = [
            r["id"]
            for r in weighted_topk_sample(
                df.repartition(9), "id", F.col("wt"), k
            ).collect()
        ]
        got2 = [
            r["id"]
            for r in weighted_topk_sample(
                df.coalesce(1), "id", F.col("wt"), k
            ).collect()
        ]
        assert got == got2, f"layout-dependent sample, seed={seed}"
        assert len(got) == min(k, len(eligible))
        assert set(got) <= eligible
