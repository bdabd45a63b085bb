"""plans.lifecycle: pins are released on every exit path, release frees
checkpoint files as well as blocks, and no package module pins,
checkpoints or frees a relation except through the lifecycle module.
"""

from __future__ import annotations

import ast
import os

import pytest
from pyspark import StorageLevel

from erddap2agol_spark.operators import dedup
from erddap2agol_spark.plans.lifecycle import pinned, release_checkpoints

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_REPO, "erddap2agol_spark")
_LIFECYCLE = os.path.join(_PKG, "plans", "lifecycle.py")
_STORAGE_CALLS = frozenset({"persist", "unpersist", "checkpoint", "localCheckpoint"})


def _persistent_rdd_ids(spark) -> set[int]:
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keys().iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture
def checkpoint_dir(spark, tmp_path):
    """A reliable checkpoint dir under ``tmp_path`` for one test.  The
    session's previous setting (normally none) is put back afterwards:
    a leftover dir would switch every later test to reliable mode."""
    jsc = spark.sparkContext._jsc.sc()
    prev = jsc.checkpointDir()
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        yield tmp_path / "ckpt"
    finally:
        getattr(jsc, "checkpointDir_$eq")(prev)


def test_pinned_releases_its_own_pin_on_every_exit(spark):
    df = spark.range(50).selectExpr("id", "id * 2 AS v")
    with pinned(df, StorageLevel.MEMORY_AND_DISK) as p:
        assert p.storageLevel == StorageLevel.MEMORY_AND_DISK
        assert p.count() == 50
    assert df.storageLevel == StorageLevel.NONE
    with pytest.raises(RuntimeError):
        with pinned(df):
            raise RuntimeError("operator failed")
    assert df.storageLevel == StorageLevel.NONE


def test_pinned_leaves_a_callers_cache_in_place(spark):
    df = spark.range(30).selectExpr("id % 7 AS k")
    df.persist(StorageLevel.DISK_ONLY)
    try:
        with pinned(df, StorageLevel.MEMORY_AND_DISK) as p:
            assert p.count() == 30
        assert df.storageLevel == StorageLevel.DISK_ONLY
    finally:
        df.unpersist(blocking=True)


def test_scaffold_pin_released_when_operator_raises(spark, monkeypatch):
    """lsh_candidate_pairs pins its signature table, then checkpoints the
    pairs.  When the checkpoint raises, the pin must still be released:
    no CacheManager entry and no new persistent RDD survive the call."""

    def fail(df, release=None):
        df.count()  # fill the pin first, as the real checkpoint would
        raise RuntimeError("checkpoint failed")

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox leaps"),
         (3, "an entirely different sentence here")],
        "doc_id long, text string",
    )
    base = _persistent_rdd_ids(spark)
    monkeypatch.setattr(dedup, "truncate_lineage", fail)
    with pytest.raises(RuntimeError, match="checkpoint failed"):
        dedup.lsh_candidate_pairs(docs, "doc_id", "text", n_perm=8, rows_per_band=2)
    assert _cache_empty(spark), "the signature pin outlived the failed call"
    assert not (_persistent_rdd_ids(spark) - base)


def test_release_deletes_reliable_checkpoint_files(spark, checkpoint_dir):
    """With a checkpoint dir set, truncate_lineage writes RDD checkpoint
    files; release_checkpoints must delete them, not just unpersist."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)], "a long, b long"
    )
    comp = dedup.connected_components(edges, "a", "b", max_iter=8)
    got = {r.node: r.component for r in comp.collect()}
    assert got[4] == 1 and got[12] == 10 and got[21] == 20
    written = [d for _, dirs, _ in os.walk(checkpoint_dir) for d in dirs
               if d.startswith("rdd-")]
    assert written, "expected the final round's reliable checkpoint"
    assert release_checkpoints(comp) >= 1
    left = [os.path.join(r, d) for r, dirs, _ in os.walk(checkpoint_dir)
            for d in dirs if d.startswith("rdd-")]
    assert not left, f"release left checkpoint files behind: {left}"


def _storage_calls(source: str) -> list[tuple[int, str]]:
    """(line, method) of every ``.persist(`` / ``.unpersist(`` /
    ``.checkpoint(`` / ``.localCheckpoint(`` call in ``source``."""
    return sorted(
        (node.lineno, node.func.attr)
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in _STORAGE_CALLS
    )


def test_storage_calls_only_in_lifecycle_module():
    found = []
    for root, _, files in os.walk(_PKG):
        for name in sorted(files):
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == _LIFECYCLE:
                continue
            with open(path, encoding="utf-8") as f:
                calls = _storage_calls(f.read())
            rel = os.path.relpath(path, _REPO)
            found += [f"{rel}:{line} .{attr}(" for line, attr in calls]
    assert not found, (
        "pin, checkpoint and release through plans.lifecycle "
        f"(pinned / truncate_lineage / release_checkpoints): {found}"
    )


def test_storage_call_scan_sees_calls():
    source = (
        "x = df.select('a').persist()\n"
        "# df.unpersist() in a comment is not a call\n"
        "y = f(df.localCheckpoint(eager=True))\n"
        "z = df.cache_table()\n"
    )
    assert _storage_calls(source) == [(1, "persist"), (3, "localCheckpoint")]
