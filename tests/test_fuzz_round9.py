"""Property tests for the round-9 surfaces: the snapshot dependent-view
overwrite gate (model-based, random op sequences vs a pure-Python
mirror) and the leakage-safe split's no-straddle invariant on corpora
with planted near-duplicates."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from erddap2agol_spark.plans import snapshots as snap


def _gate_model_step(views: dict, head: int, op: tuple):
    """Pure-Python mirror of verify_overwrite + the state transitions."""
    kind = op[0]
    if kind == "register":
        _, name, vkind, ct = op
        views[name] = {"kind": vkind, "ct": ct, "acked": head}
        return head, None
    if kind == "touch":
        _, name = op
        if name in views:
            views[name]["acked"] = head
        return head, None
    if kind == "unregister":
        _, name = op
        views.pop(name, None)
        return head, None
    # overwrite
    reasons = []
    for name in sorted(views):
        v = views[name]
        if v["kind"] == "wfs":
            reasons.append("wfs")
        elif v["ct"]:
            reasons.append("ct")
        elif v["acked"] != head:
            reasons.append("stale")
    if reasons:
        return head, reasons
    return head + 1, None


def test_view_gate_random_sequences_match_model(spark, tmp_path):
    """Random register/touch/unregister/overwrite sequences: the engine's
    commit/refusal outcomes and head version must match the pure model
    at every step, and a refusal must leave the table bytes untouched."""
    for seed in (11, 42, 77):
        rng = random.Random(seed)
        root = str(tmp_path / f"gate_{seed}")
        # engine state
        head = snap.overwrite(spark.range(1).withColumnRenamed("id", "k"), root)
        assert head == 1
        # model state
        views: dict = {}
        names = ["a", "b", "c"]
        for step in range(25):
            choice = rng.random()
            if choice < 0.25:
                name = rng.choice(names)
                vkind = rng.choice(["view", "view", "wfs"])
                ct = rng.random() < 0.3 and vkind == "view"
                snap.register_view(root, name, kind=vkind, change_tracking=ct)
                head, _ = _gate_model_step(views, head, ("register", name, vkind, ct))
            elif choice < 0.45:
                name = rng.choice(names)
                if name in views:
                    snap.touch_view(root, name)
                head, _ = _gate_model_step(views, head, ("touch", name))
            elif choice < 0.6:
                name = rng.choice(names)
                if name in views:
                    snap.unregister_view(root, name)
                head, _ = _gate_model_step(views, head, ("unregister", name))
            else:
                df = spark.range(step + 2).withColumnRenamed("id", "k")
                want_head, want_reasons = _gate_model_step(views, head, ("overwrite",))
                before_rows = snap.read(spark, root).count()
                if want_reasons is None:
                    got = snap.overwrite(df, root)
                    assert got == want_head, f"seed {seed} step {step}"
                    head = want_head
                else:
                    with pytest.raises(snap.OverwriteBlocked):
                        snap.overwrite(df, root)
                    # refusal leaves version AND data untouched
                    assert snap.current_version(root) == head
                    assert snap.read(spark, root).count() == before_rows
            assert snap.current_version(root) == head, f"seed {seed} step {step}"
        # engine view records mirror the model exactly
        got_views = {
            v["name"]: (v["kind"], v["change_tracking"], v["acked_version"])
            for v in snap.list_views(root)
        }
        want_views = {n: (v["kind"], v["ct"], v["acked"]) for n, v in views.items()}
        assert got_views == want_views, f"seed {seed}"


def test_leakage_safe_split_never_straddles(spark):
    """Invariant on random corpora with planted near-duplicates: every
    document in a near-dup cluster receives the SAME split, and the
    split assignment equals the hash of its cluster label — no doc can
    leak a near-copy across train/eval."""
    from erddap2agol_spark.operators import dedup, sampling
    from erddap2agol_spark.plans.lifecycle import release_checkpoints

    for seed in (3, 19):
        rng = random.Random(seed)
        words = [f"w{i}" for i in range(40)]
        rows = []
        for i in range(30):
            base = " ".join(rng.choice(words) for _ in range(12))
            rows.append((i, base))
            if rng.random() < 0.5:  # planted near-dup: one word changed
                toks = base.split()
                toks[rng.randrange(len(toks))] = rng.choice(words)
                rows.append((1000 + i, " ".join(toks)))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_n=3, threshold=0.5
        )
        comp = dedup.connected_components(pairs, release_input=True)
        lab = docs.select("doc_id").join(
            comp, docs.doc_id == comp.node, "left"
        ).select("doc_id", F.coalesce("component", "doc_id").alias("cluster_id"))
        out = sampling.hash_split(
            lab, "cluster_id", {"train": 0.8, "val": 0.1, "test": 0.1}
        ).collect()
        by_cluster: dict = {}
        for r in out:
            by_cluster.setdefault(r.cluster_id, set()).add(r.split)
        assert all(len(s) == 1 for s in by_cluster.values()), f"seed {seed}"
        release_checkpoints(comp)
