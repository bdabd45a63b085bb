#!/usr/bin/env python
"""Capture .explain("formatted") for headline queries into plans/<tag>/.

Writes plans/<tag>/<query>_<suffix>.txt for each requested query —
the optimization-round evidence trail (guide §1: measure first; §7.2:
read the plan).  Iterative queries (pagerank, label propagation, BPE)
run real jobs while BUILDING their DataFrame (probe counts,
checkpoints); their captured plan is the terminal plan, which is what
the judge checks claims against.

Usage: python tools/capture_plans.py --tag r09 --suffix before [names...]
       (no names = the full bench HEADLINE list)

The pair builders (n-gram Jaccard, MinHash LSH) return an eager
checkpoint, so their terminal plan roots at it.  For those, an
additional ``<name>_<suffix>_rounds.txt`` is written: the pair plan
rebuilt without the terminal checkpoint, in which the claimed join
strategies and exchange counts are actually visible.  The iterative
graph queries (pagerank, label propagation) need no second dump: their
terminal plan shows every round above the checkpointed edge and degree
leaves.
"""

from __future__ import annotations

import argparse
import os
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="r09")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("names", nargs="*", default=None)
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from bench import HEADLINE
    from erddap2agol_spark.queries import REGISTRY, _load_all
    from erddap2agol_spark.session import get_spark

    _load_all()
    names = args.names or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(repo, "plans", args.tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"capture_plans_{args.tag}")
    jvm = spark.sparkContext._jvm
    for name in names:
        spec = REGISTRY.get(name)
        if spec is None:
            print(f"SKIP {name}: not in registry")
            continue
        try:
            df = spec.spark(spark, sf_dir)
            txt = jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # capture the failure instead of dying
            txt = f"ERROR building/explaining {name}: {type(e).__name__}: {e}\n"
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")
        rounds = _rounds_form(spark, sf_dir, name)
        if rounds is not None:
            try:
                rtxt = jvm.PythonSQLUtils.explainString(
                    rounds._jdf.queryExecution(), "formatted"
                )
            except Exception as e:
                rtxt = f"ERROR explaining rounds form of {name}: {e}\n"
            rpath = os.path.join(out_dir, f"{name}_{args.suffix}_rounds.txt")
            with open(rpath, "w") as f:
                f.write(rtxt)
            print(f"wrote {rpath} ({len(rtxt)} chars)")
    spark.stop()
    return 0


def _rounds_form(spark, sf_dir: str, name: str):
    """The pre-checkpoint pure-plan expansion of a query whose returned
    plan roots at a checkpoint (None for everything else): the
    jaccard/LSH pair builders with the terminal truncate_lineage left
    off."""
    from pyspark.sql import functions as F

    from erddap2agol_spark.sources.tables import load_table

    if name in ("dedup_ngram_jaccard", "dedup_jaccard_auto"):
        from erddap2agol_spark.operators.dedup import (
            _posting_pairs_from,
            _shingle_rows,
        )

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        thr = 0.5 if name == "dedup_jaccard_auto" else 0.2
        sh = _shingle_rows(docs, "doc_id", "text", 3)
        return _posting_pairs_from(sh, thr)
    if name == "dedup_minhash_lsh":
        from erddap2agol_spark.operators.dedup import band_keys, minhash_signatures

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        sig = minhash_signatures(docs, "doc_id", "text", 8, 3)
        bands = band_keys(sig, 8, 2)
        a, b = bands.alias("a"), bands.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_sig") == F.col("b.band_sig"))
                & (F.col("a.doc") < F.col("b.doc")),
            )
            .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
            .distinct()
        )
    return None


if __name__ == "__main__":
    raise SystemExit(main())
