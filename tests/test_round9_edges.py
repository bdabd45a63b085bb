"""Round-9 edges: driver-side-growth guards (VERDICT r8 #4), the
parametric corpus-manifest shard count, and the repeated-call cache
reclamation claim on the hot-cell auto-split (VERDICT r8 #7)."""

from __future__ import annotations

import gc
import time

import pytest
from pyspark.sql import functions as F

from erddap2agol_spark.operators.windows import grouped_row_number
from erddap2agol_spark.queries.curation_queries import build_corpus_manifest
from erddap2agol_spark.sources.tables import load_table

from .test_opt_r09 import _persistent_rdd_ids

SF = "/root/testdata/sf0.001"


def test_grouped_row_number_offset_guard(spark):
    """A high-cardinality group_col must fail LOUDLY at the documented
    driver bound instead of silently collecting groups x ranges rows."""
    df = spark.range(0, 40).select(
        F.col("id").cast("string").alias("g"), F.col("id").alias("k"), "id"
    )
    with pytest.raises(ValueError, match="offset table exceeds"):
        grouped_row_number(df, "g", ["k", "id"], max_offset_rows=10)
    # under the cap the numbering is unaffected (every group 1 row -> rank 1)
    out = grouped_row_number(df, "g", ["k", "id"], name="rk").collect()
    assert {r.rk for r in out} == {1} and len(out) == 40


def test_corpus_manifest_parametric_shards(spark):
    """Shard count is a real parameter (VERDICT r8 #4): the keep gate is
    shard-invariant, shards stay in range, and per-shard pos is a
    contiguous 1..n training order at ANY shard count."""
    docs = load_table(spark, SF, "documents")
    m8 = build_corpus_manifest(docs, ("src0", "src1"), n_shards=8).collect()
    m5 = build_corpus_manifest(docs, ("src0", "src1"), n_shards=5).collect()
    assert {r.doc_id: r.keep for r in m8} == {r.doc_id: r.keep for r in m5}
    shards5: dict[int, list[int]] = {}
    for r in m5:
        if r.keep:
            assert 0 <= r.shard < 5
            shards5.setdefault(r.shard, []).append(r.pos)
    assert shards5, "gate kept nothing at sf0.001 — fixture drift"
    for poss in shards5.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))


def test_corpus_manifest_derived_shards(spark):
    """n_shards=None derives the count from corpus size: a tiny
    target_docs_per_shard must yield MORE than the 8-shard floor, so a
    100 TB corpus cannot be funneled through 8 window partitions."""
    docs = load_table(spark, SF, "documents")
    n_corpus = docs.where(~F.col("source").isin("src0", "src1")).count()
    target = max(1, n_corpus // 20)
    m = build_corpus_manifest(
        docs, ("src0", "src1"), n_shards=None, target_docs_per_shard=target
    )
    kept = m.where(F.col("keep") == 1)
    n_shards_seen = kept.select("shard").distinct().count()
    assert n_shards_seen > 8


def test_iterative_rounds_release_previous(spark):
    """Each connected-components round must free the previous round's
    checkpoint explicitly (truncate_lineage release chaining): after
    convergence only the FINAL round's blocks remain, releasable
    through the returned plan."""
    from erddap2agol_spark.operators.dedup import connected_components
    from erddap2agol_spark.plans.lifecycle import release_checkpoints

    base = _persistent_rdd_ids(spark)
    # two chains + an isolated pair: converges in a few rounds
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)],
        "a long, b long",
    )
    comp = connected_components(edges, "a", "b", max_iter=8)
    got = {r.node: r.component for r in comp.collect()}
    assert got[4] == got[1] and got[12] == got[10] and got[21] == got[20]
    in_flight = _persistent_rdd_ids(spark) - base
    assert len(in_flight) <= 2, f"round checkpoints accumulated: {in_flight}"
    release_checkpoints(comp)
    assert not (_persistent_rdd_ids(spark) - base)


def test_near_dup_repeated_calls_reclaim_blocks(spark):
    """VERDICT r8 #7: repeated hot-cell-split calls in one session must
    not accumulate checkpoint blocks.  GC-driven reclamation does NOT
    happen under PySpark's default pinned-thread mode (measured r9:
    the py4j finalizer removes the JVM Dataset binding but the
    checkpointed RDD stays strongly rooted), so the contract is the
    EXPLICIT one: release_checkpoints(result) after consuming
    each result leaves none of the call's persistent RDDs behind — >=3
    sequential calls, no new id surviving any of them."""
    from erddap2agol_spark.plans.lifecycle import release_checkpoints
    from erddap2agol_spark.operators.similarity import cell_near_dup_pairs

    emb = load_table(spark, SF, "embeddings").withColumn("one_cell", F.lit(0))
    base = _persistent_rdd_ids(spark)
    rows_per_call = []
    for _ in range(3):
        df = cell_near_dup_pairs(
            emb,
            "vec_id",
            "embedding",
            label_col="one_cell",
            threshold=0.4,
            n_probe=1,
            broadcast_elems=0,          # force the distributed path
            max_cell_elems=64 * 40,     # force the hot-cell split
        )
        rows_per_call.append(df.count())
        freed = release_checkpoints(df)
        assert freed >= 1, "expected at least the assignment checkpoint"
        # NOTE (VERDICT r9 #1): no `peak > base` clause here.  The
        # in-flight growth of getPersistentRDDs is box/session-order
        # dependent: truncate_lineage takes a RELIABLE checkpoint when
        # any earlier test left a checkpoint dir on the shared session,
        # and reliable checkpoints never appear in getPersistentRDDs.
        # The invariant under test is that no id this call created
        # survives the release, asserted below for either checkpoint
        # mode (an id set, not a count: another test's entries may be
        # reclaimed concurrently).
        left = _persistent_rdd_ids(spark) - base
        assert not left, f"release_checkpoints left blocks behind: {left}"
    assert len(set(rows_per_call)) == 1, "repeated calls diverged"
    gc.collect()  # drop any lingering python-side refs before other tests


def test_dedup_pipeline_cache_hygiene(spark):
    """r9 finding: DataFrame.persist is CacheManager-pinned until an
    explicit unpersist — never GC-reclaimed — so operator-terminal
    materializations use releasable checkpoints instead.  A full
    pairs -> components pipeline with release_input=True plus a final
    release_checkpoints must leave the CacheManager EMPTY and the
    persistent-RDD table at its pre-call level."""
    from erddap2agol_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )
    from erddap2agol_spark.plans.lifecycle import release_checkpoints

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    base = _persistent_rdd_ids(spark)
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=3, threshold=0.5)
    comp = connected_components(pairs, release_input=True)
    assert comp.count() > 0
    release_checkpoints(comp)
    left = _persistent_rdd_ids(spark) - base
    assert not left, f"dedup pipeline leaked storage: {left}"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "a CacheManager-pinned persist survived the pipeline"
    )


def test_iterative_ops_shield_caller_input(spark):
    """The per-round release chain must never free the CALLER's frame:
    the initial truncate_lineage re-roots the plan on an internal
    checkpoint, so round 1's release touches only that internal copy.
    A checkpoint-backed input (the new pair-builder contract) must stay
    readable after kcore and pointer doubling consume it."""
    from erddap2agol_spark.plans.lifecycle import release_checkpoints, truncate_lineage
    from erddap2agol_spark.operators.graph import (
        kcore,
        pointer_doubling_closure,
    )

    edges = truncate_lineage(
        spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4)], "a long, b long")
    )
    out = kcore(edges, k=2, iterations=3)
    assert out.count() > 0
    assert edges.count() == 4  # input blocks intact
    release_checkpoints(out)

    nodes = truncate_lineage(
        spark.createDataFrame(
            [(1, None), (2, 1), (3, 2)], "node long, parent long"
        )
    )
    closure = pointer_doubling_closure(nodes, rounds=2)
    assert closure.count() == 3
    assert nodes.count() == 3  # input blocks intact
    release_checkpoints(closure)
    release_checkpoints(edges)
    release_checkpoints(nodes)
