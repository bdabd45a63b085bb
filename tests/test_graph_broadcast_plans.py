"""Plan-shape pins for the broadcast-regime iterative graph operators
(operators/graph.py): in broadcast mode the per-round work must compile
to map-side broadcast joins whose aggregates reuse the dst partitioning
— adding rounds must add ZERO shuffle exchanges.  Each pin reads the
operator's real returned plan (rounds above the checkpointed edge and
degree leaves) and releases those checkpoints afterwards."""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import functions as F

from erddap2agol_spark.operators.graph import (
    copurchase_edges,
    label_propagation,
    pagerank,
)
from erddap2agol_spark.plans.lifecycle import release_checkpoints

_EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (1, 4), (2, 4), (4, 5)]


def _plan_of(df) -> str:
    """The formatted physical plan of ``df``; ``df``'s checkpoints are
    released once the plan is read."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    release_checkpoints(df)
    return buf.getvalue()


def _shuffles(plan: str) -> int:
    return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))


def _ensure_shuffles(plan: str) -> int:
    """Exchanges the OPTIMIZER required (ENSURE_REQUIREMENTS) — excludes
    the explicit REPARTITION_BY_COL of the edge list, whose subtree is
    identical in every round and shared by exchange reuse at runtime."""
    out = 0
    for block in plan.split("\n\n"):
        first = block.splitlines()[0] if block.splitlines() else ""
        if re.match(r"^\(\d+\) Exchange", first) and "ENSURE_REQUIREMENTS" in block:
            out += 1
    return out


def _edges(spark):
    return spark.createDataFrame(_EDGES, "a long, b long")


def test_lpa_broadcast_rounds_add_no_exchanges(spark):
    """The exchange count of the broadcast-mode LPA plan must be
    IDENTICAL at 2 and 6 iterations: every round is a broadcast join
    plus two aggregates that reuse HashPartitioning(dst)."""
    p2 = _plan_of(
        label_propagation(_edges(spark), 2, broadcast_labels=True)
    )
    p6 = _plan_of(
        label_propagation(_edges(spark), 6, broadcast_labels=True)
    )
    # required (ENSURE_REQUIREMENTS) exchanges must NOT scale with
    # rounds: both per-round aggregates reuse HashPartitioning(dst).
    assert _ensure_shuffles(p2) == _ensure_shuffles(p6), (
        _ensure_shuffles(p2), _ensure_shuffles(p6))
    # and the rounds really are broadcast joins, not shuffled equi-joins
    assert p6.count("BroadcastHashJoin") >= 6


def test_lpa_equijoin_rounds_do_add_exchanges(spark):
    """Counter-probe: in the co-partitioned (non-broadcast) regime the
    per-round join+aggs DO shuffle, so iterations scale the exchange
    count — proving the previous test's zero is the broadcast design,
    not an artifact of the counter."""
    p2 = _plan_of(
        label_propagation(_edges(spark), 2, broadcast_labels=False)
    )
    p6 = _plan_of(
        label_propagation(_edges(spark), 6, broadcast_labels=False)
    )
    assert _ensure_shuffles(p6) > _ensure_shuffles(p2)


def test_pagerank_broadcast_rounds_are_broadcast_joins(spark):
    """Each round's rank join must compile to a BroadcastHashJoin in
    broadcast mode, every round reading the one dst-partitioned g."""
    df = pagerank(_edges(spark), iterations=5, broadcast_ranks=True)
    plan = _plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 5


def test_regime_probe_dispatch(spark):
    """Auto probe: dense graph (avg degree >= 8) picks broadcast, the
    sparse test graph keeps the equi-join form.  Proxy via plan shape:
    sparse graph + auto must NOT contain per-round BroadcastHashJoins
    on the rank column beyond what AQE would add — compare exchange
    scaling, the regime's signature."""
    # sparse: 7 edges over 5 nodes -> avg degree ~2.8 < 8 -> equi-join
    p2 = _plan_of(label_propagation(_edges(spark), 2))
    p5 = _plan_of(label_propagation(_edges(spark), 5))
    assert _ensure_shuffles(p5) > _ensure_shuffles(p2)
    # dense: complete graph on 10 nodes -> avg degree 9 -> broadcast
    k10 = [(i, j) for i in range(1, 11) for j in range(i + 1, 11)]
    dense = spark.createDataFrame(k10, "a long, b long")
    d2 = _plan_of(label_propagation(dense, 2))
    d6 = _plan_of(label_propagation(dense, 6))
    assert _ensure_shuffles(d2) == _ensure_shuffles(d6)


def test_copurchase_edges_match_self_join(spark):
    """The in-row pair builder must produce exactly the self-join's
    edge set, at min_groups 1 and 2."""
    rows = [
        (100, 1), (100, 2), (100, 3), (100, 1),  # dup item in-group
        (200, 2), (200, 3),
        (300, 2), (300, 3), (300, 5),
        (400, 7),  # singleton group -> no pairs
    ]
    df = spark.createDataFrame(rows, "g long, item long")
    for mg in (1, 2):
        x = df.select("g", F.col("item").alias("pa")).distinct()
        y = df.select("g", F.col("item").alias("pb")).distinct()
        ref = (
            x.join(y, "g")
            .where(F.col("pa") < F.col("pb"))
            .groupBy("pa", "pb")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= mg)
            .select("pa", "pb")
        )
        got = copurchase_edges(df, "g", "item", min_groups=mg)
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect())), mg


def _deg_narrowed(df) -> bool:
    """Whether ``deg`` is an int (not a bigint) in the output of the
    ``g`` checkpoint leaf — the (src, dst, deg) relation the rounds
    read; ``df``'s checkpoints are released once the plan is read."""
    plan = df._jdf.queryExecution().analyzed().toString()
    release_checkpoints(df)
    g = re.search(r"LogicalRDD \[src#\d+L?, dst#\d+L?, deg#\d+(L?)\]", plan)
    assert g is not None, plan
    return g.group(1) == ""


def test_pagerank_forced_broadcast_keeps_bigint_deg(spark):
    """The int32 ``deg`` narrowing rests on the |V| probe: a caller who
    forces ``broadcast_ranks=True`` skips the probe, so ``deg`` on the
    edge relation stays a bigint.  The probed broadcast regime (dense
    graph) still narrows it."""
    forced = pagerank(_edges(spark), iterations=2, broadcast_ranks=True)
    assert not _deg_narrowed(forced)
    k10 = [(i, j) for i in range(1, 11) for j in range(i + 1, 11)]
    probed = pagerank(spark.createDataFrame(k10, "a long, b long"), iterations=2)
    assert _deg_narrowed(probed)
    assert dict(forced.dtypes)["deg"] == "bigint"
