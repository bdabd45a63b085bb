"""Optimization round 9: cache-lifecycle pins for the call-scoped
edge persist in the iterative graph operators and the shared-explode
probe path in jaccard_pairs_auto.

Each optimization keeps results identical (oracle parity is asserted
elsewhere); what these tests pin is the LIFECYCLE the optimization
introduced — a call must leave the CacheManager empty (no leaked
persist) and the persistent-RDD table at base + 1 (the returned
checkpoint), returning to base after release_checkpoints — plus the
fan-out width policy of plans.parallelism."""

from __future__ import annotations

import gc

from pyspark.sql import functions as F

from erddap2agol_spark.plans.lifecycle import release_checkpoints
from erddap2agol_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _persistent_rdd_ids(spark) -> set[int]:
    """Ids (not just the count) of persistent RDDs: a prior test's
    checkpoint may be reclaimed by the async ContextCleaner WHILE this
    test runs, so count deltas are racy — id sets are not."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keys().iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def _edges(spark):
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    from erddap2agol_spark.operators.graph import copurchase_edges

    return copurchase_edges(li, "l_orderkey", "l_partkey")


def test_pagerank_call_scoped_caches(spark):
    """r10 lifecycle: the call leaves NO CacheManager entry (nothing can
    plan-match a rebuilt identical plan) and only the deg/g scaffold
    checkpoints backing the LAZY returned plan — the edge checkpoint is
    freed in-call once g materializes — and release_checkpoints(result)
    restores the persistent-RDD table to base."""
    from erddap2agol_spark.operators.graph import pagerank

    base = _persistent_rdd_ids(spark)
    out = pagerank(_edges(spark), a="pa", b="pb", iterations=2)
    assert out.count() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "pagerank left a CacheManager-pinned persist behind"
    )
    live = _persistent_rdd_ids(spark) - base
    assert len(live) == 2, (
        f"expected exactly the deg+g scaffold checkpoints, got {len(live)}"
    )
    release_checkpoints(out)
    assert not (_persistent_rdd_ids(spark) - base)
    gc.collect()


def test_label_propagation_call_scoped_caches(spark):
    from erddap2agol_spark.operators.graph import label_propagation

    base = _persistent_rdd_ids(spark)
    out = label_propagation(_edges(spark), iterations=2, a="pa", b="pb")
    assert out.count() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "label_propagation left a CacheManager-pinned persist behind"
    )
    assert len(_persistent_rdd_ids(spark) - base) == 1
    release_checkpoints(out)
    assert not (_persistent_rdd_ids(spark) - base)
    gc.collect()


def test_ensure_parallelism_sees_through_empty_splits(spark, tmp_path):
    """r9: byte-range splits cannot split a parquet row group, so a
    single-row-group file floored to N splits has N-1 EMPTY partitions
    — the partition count passes the old check while every row sits on
    one core.  ensure_parallelism must consult the footers' row-group
    count and repartition anyway.  The test lowers maxPartitionBytes so
    the file splits into at least the target number of ranges: the
    partition-count check then passes and only the row-group check
    (``_scan_units``) can catch the one-core layout."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from erddap2agol_spark.plans.parallelism import (
        _local_files,
        _scan_units,
        ensure_parallelism,
    )

    rng = np.random.default_rng(7)
    n = 60_000
    # incompressible text so the file spans several 4 MB split units
    texts = ["".join(chr(97 + c) for c in rng.integers(0, 26, 180))
             for _ in range(n)]
    tbl = pa.table({"doc_id": pa.array(np.arange(n)), "text": pa.array(texts)})
    path = str(tmp_path / "one_rg.parquet")
    pq.write_table(tbl, path, row_group_size=n, compression="none")
    df = spark.read.parquet(str(tmp_path))
    n_parts = df.rdd.getNumPartitions()
    assert n_parts >= 3, f"fixture too small to split ({n_parts} parts)"
    nonempty = sum(1 for s in df.rdd.glom().map(len).collect() if s)
    assert nonempty == 1, "expected the single-row-group empty-split shape"
    assert _scan_units(df, _local_files(df), 3) == 1
    # ~10 MB of input derives the full defaultParallelism target
    target = spark.sparkContext.defaultParallelism
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(os.path.getsize(path) // (2 * target)))
    try:
        split = spark.read.parquet(str(tmp_path))
        assert split.rdd.getNumPartitions() >= target
        out = ensure_parallelism(split)
        assert out is not split, "row-group check did not fire"
        spread = sum(1 for s in out.rdd.glom().map(len).collect() if s)
    finally:
        spark.conf.set(key, prev)
    assert spread >= 3, "ensure_parallelism kept the one-core layout"
    # a shuffle-made partitioning is REAL: no second repartition
    wide = df.repartition(spark.sparkContext.defaultParallelism)
    assert ensure_parallelism(wide) is wide


def test_ensure_parallelism_size_derived_target(spark, tmp_path):
    """r9: the target derives from the scan's input BYTES — a tiny file
    must NOT be exploded to cluster width (task-launch floor dominates
    fan-out work on small corpora), while a multi-MB file still widens
    toward defaultParallelism."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from erddap2agol_spark.plans.parallelism import (
        FANOUT_INPUT_BYTES_PER_TASK,
        ensure_parallelism,
        input_bytes,
    )

    small_dir = tmp_path / "small"
    small_dir.mkdir()
    tbl = pa.table({"doc_id": pa.array(range(100)),
                    "text": pa.array(["alpha beta gamma"] * 100)})
    pq.write_table(tbl, str(small_dir / "docs.parquet"))
    small = spark.read.parquet(str(small_dir))
    size = input_bytes(small)
    assert size is not None and size < FANOUT_INPUT_BYTES_PER_TASK
    out = ensure_parallelism(small)
    # target computes to 1: the frame passes through un-repartitioned
    assert out is small


def test_fanout_width_small_input_scales_with_weight(spark, tmp_path):
    """Small-input regime: an explicit width of ceil(bytes x weight /
    256 KiB), capped at defaultParallelism."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from erddap2agol_spark.plans.parallelism import (
        FANOUT_INPUT_BYTES_PER_TASK,
        fanout_width,
        input_bytes,
    )

    # ~400 KB of incompressible text in one uncompressed file
    chars = np.random.default_rng(11).integers(97, 123, (2_000, 200), dtype=np.uint8)
    texts = chars.view("S200").ravel().astype(str)
    tbl = pa.table({"doc_id": pa.array(np.arange(2_000)), "text": pa.array(texts)})
    pq.write_table(tbl, str(tmp_path / "docs.parquet"), compression="none")
    df = spark.read.parquet(str(tmp_path))
    par = spark.sparkContext.defaultParallelism
    size = input_bytes(df)
    assert 3 * FANOUT_INPUT_BYTES_PER_TASK // 2 < size < 2 * FANOUT_INPUT_BYTES_PER_TASK
    assert fanout_width(df) == 2
    assert fanout_width(df, fanout_weight=2) == min(par, 4)
    assert fanout_width(df, fanout_weight=1_000) == par


def test_fanout_width_defers_to_planner(spark, monkeypatch):
    """No width above 4 MB of input per core (AQE owns it at scale),
    and none without a local file scan to size."""
    from erddap2agol_spark.plans import parallelism

    par = spark.sparkContext.defaultParallelism
    df = spark.range(100)
    assert parallelism.fanout_width(df) is None
    floor = 4 * (1 << 20) * par
    monkeypatch.setattr(parallelism, "input_bytes", lambda _: floor)
    assert parallelism.fanout_width(df) == par
    monkeypatch.setattr(parallelism, "input_bytes", lambda _: floor + 1)
    assert parallelism.fanout_width(df) is None


def test_loop_width_from_counted_rows(spark):
    """~LOOP_ROWS_PER_TASK rows per task; None once that reaches
    defaultParallelism (a big graph keeps ambient parallelism)."""
    from erddap2agol_spark.plans.parallelism import LOOP_ROWS_PER_TASK, loop_width

    df = spark.range(1)
    par = spark.sparkContext.defaultParallelism
    assert par >= 3
    assert loop_width(0, df) == 1
    assert loop_width(LOOP_ROWS_PER_TASK, df) == 1
    assert loop_width(LOOP_ROWS_PER_TASK + 1, df) == 2
    assert loop_width(LOOP_ROWS_PER_TASK * (par - 1), df) == par - 1
    assert loop_width(LOOP_ROWS_PER_TASK * (par - 1) + 1, df) is None
    assert loop_width(LOOP_ROWS_PER_TASK * par * 10, df) is None


def test_jaccard_auto_shared_probe_matches_posting_join(spark):
    """The shared-explode dispatch path (exact probe aggregated over
    the SAME cached shingle relation the join reads) must return
    exactly ngram_jaccard_pairs' result, with clean cache lifecycle."""
    from erddap2agol_spark.operators.dedup import (
        jaccard_pairs_auto,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    base = _persistent_rdd_ids(spark)
    auto = jaccard_pairs_auto(docs, "doc_id", "text", shingle_n=3, threshold=0.5)
    ref = ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=3, threshold=0.5)
    a = {tuple(r) for r in auto.collect()}
    b = {tuple(r) for r in ref.collect()}
    assert a == b and a, "shared-probe dispatch diverged from the posting join"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "jaccard_pairs_auto leaked its shared shingle persist"
    )
    release_checkpoints(auto)
    release_checkpoints(ref)
    assert not (_persistent_rdd_ids(spark) - base)
    gc.collect()
