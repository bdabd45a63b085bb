"""Blocked fuzzy linkage (operators/linkage.py) and deterministic label
propagation (operators/graph.label_propagation): planted cases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from erddap2agol_spark.operators.graph import label_propagation
from erddap2agol_spark.operators.linkage import (
    blocked_fuzzy_pairs,
    fuzzy_variant_pairs,
    value_dictionary,
)

from .test_opt_r09 import _persistent_rdd_ids


def _first_tok_block():
    return F.split_part(F.col("value"), F.lit(" "), F.lit(1))


def test_value_dictionary_supports(spark):
    df = spark.createDataFrame(
        [("acme corp",), ("acme corp",), ("acme inc",), (None,)], "name string"
    )
    d = {(r.value, r.support) for r in value_dictionary(df, "name").collect()}
    assert d == {("acme corp", 2), ("acme inc", 1)}


def test_fuzzy_variants_planted(spark):
    rows = [("acme corp",)] * 3 + [("acme corp.",)] * 2 + [("acme korp",)] + [
        ("zenith labs",),
        ("totally different",),
    ]
    df = spark.createDataFrame(rows, "name string")
    out = {
        (r.value_a, r.value_b, r.lev, r.support_a, r.support_b)
        for r in fuzzy_variant_pairs(
            df, "name", _first_tok_block(), max_distance=2
        ).collect()
    }
    # all three acme variants pair up; zenith/different share no block
    assert out == {
        ("acme corp", "acme corp.", 1, 3, 2),
        ("acme corp", "acme korp", 1, 3, 1),
        ("acme corp.", "acme korp", 2, 2, 1),
    }


def test_block_cap_drops_mega_block(spark):
    rows = [(f"x{i:03d} v",) for i in range(10)] + [("y1 w",), ("y2 w",)]
    df = spark.createDataFrame(rows, "name string")
    # block on the SECOND token: 'v' has 10 entries, 'w' has 2
    blk = F.split_part(F.col("value"), F.lit(" "), F.lit(2))
    capped = blocked_fuzzy_pairs(
        value_dictionary(df, "name"), blk, max_distance=5, max_block=5
    )
    got = {(r.value_a, r.value_b) for r in capped.collect()}
    assert got == {("y1 w", "y2 w")}  # the 10-entry block was dropped pre-join


def test_length_prune_cannot_lose_matches(spark):
    # lev(a,b) >= abs(len(a)-len(b)): the prune is a pure lower bound,
    # so pruned pairs can never be real matches
    rows = [("ab x",), ("abcdefgh x",), ("abc x",)]
    df = spark.createDataFrame(rows, "name string")
    blk = F.split_part(F.col("value"), F.lit(" "), F.lit(2))
    full = blocked_fuzzy_pairs(value_dictionary(df, "name"), blk, max_distance=2)
    got = {(r.value_a, r.value_b, r.lev) for r in full.collect()}
    assert got == {("ab x", "abc x", 1)}


def test_fuzzy_plan_has_no_cartesian(spark):
    df = spark.createDataFrame([("a b",), ("c b",)], "name string")
    plan = (
        fuzzy_variant_pairs(df, "name", _first_tok_block(), 2, max_block=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lpa_two_triangles(spark):
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6)], "a int, b int"
    )
    got = {r.node: r.label for r in label_propagation(edges, iterations=4).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}


def test_lpa_round_semantics_hand_computed(spark):
    # single triangle, ONE round: node 1 sees labels {2,3} -> tie -> 2;
    # nodes 2 and 3 both see label 1 among neighbors -> 1
    edges = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "a int, b int")
    got = {r.node: r.label for r in label_propagation(edges, iterations=1).collect()}
    assert got == {1: 2, 2: 1, 3: 1}


def test_lpa_plan_no_window(spark):
    from erddap2agol_spark.plans.lifecycle import release_checkpoints

    edges = spark.createDataFrame([(1, 2), (2, 3)], "a int, b int")
    out = label_propagation(edges, iterations=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    release_checkpoints(out)
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_lpa_unpersists_scaffolding(spark):
    from erddap2agol_spark.plans.lifecycle import release_checkpoints

    edges = spark.createDataFrame([(1, 2), (2, 3)], "a int, b int")
    base = _persistent_rdd_ids(spark)
    out = label_propagation(edges, iterations=2)
    # r9: the returned frame is checkpoint-backed (persist would be
    # CacheManager-pinned and never GC-reclaimed) — release explicitly
    release_checkpoints(out)
    assert not (_persistent_rdd_ids(spark) - base)


class TestPointerDoubling:
    def test_chain_and_forest(self, spark):
        from erddap2agol_spark.operators.graph import pointer_doubling_closure

        rows = [(1, None), (2, 1), (3, 2), (4, 3), (5, 4), (10, None), (11, 10)]
        df = spark.createDataFrame(rows, "node int, parent int")
        got = sorted(
            (r.node, r.root, r.depth)
            for r in pointer_doubling_closure(df, rounds=3).collect()
        )
        assert got == [
            (1, 1, 0), (2, 1, 1), (3, 1, 2), (4, 1, 3), (5, 1, 4),
            (10, 10, 0), (11, 10, 1),
        ]

    def test_extra_rounds_are_noops(self, spark):
        from erddap2agol_spark.operators.graph import pointer_doubling_closure

        rows = [(i, i - 1 if i > 0 else None) for i in range(10)]
        df = spark.createDataFrame(rows, "node int, parent int")
        a = sorted(map(tuple, pointer_doubling_closure(df, rounds=5).collect()))
        b = sorted(map(tuple, pointer_doubling_closure(df, rounds=8).collect()))
        assert a == b
        assert a[-1] == (9, 0, 9)  # depth-9 chain resolved by 2^5 > 9

    def test_rounds_cover_doubling_not_linear(self, spark):
        from erddap2agol_spark.operators.graph import pointer_doubling_closure

        # depth-8 chain resolves in 4 rounds (2^4 = 16 >= 8); a linear
        # walker would need 8
        rows = [(i, i - 1 if i > 0 else None) for i in range(9)]
        df = spark.createDataFrame(rows, "node int, parent int")
        got = {r.node: (r.root, r.depth) for r in pointer_doubling_closure(df, rounds=4).collect()}
        assert got[8] == (0, 8)
