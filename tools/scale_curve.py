#!/usr/bin/env python
"""Empirical scaling curves for the corpus-operator families.

The repo's 100 TB claims are plan-shape arguments (SCALE.md); this tool
adds the measurement: build synthetically scaled copies of the
``documents`` / ``embeddings`` tables at 1x / 4x / 16x / 64x, run each
representative operator at every scale, and fit the scaling exponent
``alpha`` in ``t ~ SF^alpha`` from the two largest points (the small
points sit on the Spark job floor).  ``alpha <= ~1`` is the pass bar: a
bucketed/banded/broadcast design scales linearly in rows; an all-pairs
or global-sort design shows alpha -> 2 (or dies) long before 64x.

Corpus construction is per-family, because the failure mode of naive
duplication differs:

- **Linear map/agg family** (quality gates, langid, token histogram,
  Bloom decontamination, exact-dedup canon, bigram LM, corpus
  manifest): identical copies with ONE appended salt token and offset
  doc_ids.  Token/length statistics and (crucially) the Heaps-law
  vocabulary growth stay realistic — the bigram model table must stay
  vocabulary-sized, not corpus-sized, exactly as in a real corpus.
- **Pair-generating family** (MinHash-LSH pairs, SimHash Hamming
  pairs): identical copies would put every copy of a document in one
  LSH bucket — candidate pairs would grow m^2 BY CONSTRUCTION and the
  curve would measure the synthetic corpus, not the operator.  Instead
  copy k renames every token with a per-copy suffix (``w -> w_k``):
  each copy is an isomorphic image of the base corpus — its internal
  near-duplicate structure (and therefore its pair count) is exactly
  the base corpus's — while copies share zero shingles.  True pairs
  grow exactly linearly in the multiplier, which is the regime the
  banded join must stay linear in.  (A word-reordering scramble was
  tried first and REJECTED: sorting words by a per-word hash
  canonicalizes word order, so any two documents sharing vocabulary
  collapse into near-identical sequences — measured 6500x pair
  inflation at 4x.)
- **ANN** (brute-force top-k): embeddings replicated with offset ids;
  per-query work is corpus-linear regardless of vector values.
- **Events/orders family** (sessionization, LOCF resample, EWMA,
  rolling distinct, transition matrix, interval overlap): copy k
  offsets ``user_id``/``event_id``/``o_orderkey`` (per-user session
  structure identical per copy -> per-key window work exactly linear)
  and shifts ``o_orderdate`` by k x 2600 days so the copies' interval
  ranges are DISJOINT — naive duplication would overlap every copy in
  time and grow the overlap-join output m^2 by construction.

Diagnostic only (not a graded artifact).  Writes scaled dirs under
/tmp/spark_graft_scale/, symlinking the unscaled tables.

Usage:

  python tools/scale_curve.py [MULT ...]

MULT is a positive integer row multiplier (default: 1 4 16 64).
``SCALE_CURVE_FAMILIES`` (docs,events,embiso,graph) and
``SCALE_CURVE_QUERIES`` (comma list) narrow the plan.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# keyed by the FULL normalized base path (hashed) so switching
# SPARK_GRAFT_SF_DIR never reuses stale scaled corpora — not by
# basename, which two different bases can share
import hashlib

WORK = os.path.join(
    "/tmp/spark_graft_scale",
    os.path.basename(os.path.normpath(BASE_SF))
    + "-"
    + hashlib.md5(os.path.normpath(BASE_SF).encode()).hexdigest()[:8],
)
MULTS = (1, 4, 16, 64)
ID_OFFSET = 10**9

LINEAR_QUERIES = [
    "gopher_quality_flags",
    "text_langid",
    "token_histogram",
    "bloom_decontaminate",
    "dedup_exact",
    "lm_perplexity",
    "corpus_manifest",
    # round-4 continuation additions
    "doc_chunks_overlap",
    "langid_confusion",
    # round 5: shuffle-free per-doc character entropy
    "char_entropy_filter",
    # round 7: tokenizer-design curve (one hash agg + bounded ordered
    # head + uncapped scalar agg), zero-shuffle linear scorer, and the
    # join-free per-shingle source-set pair explode (source sets stay
    # bounded by the 5-source cardinality at any corpus size)
    "vocab_coverage",
    "quality_linear_classifier",
    "source_shingle_overlap",
    # round 9: the BPE tokenizer lifecycle — ONE corpus-sized aggregate
    # (the word-frequency table), then per-round work on the VOCABULARY
    # only; on the salted linear corpus the vocabulary is ~fixed, so
    # the curve isolates the corpus-agg term (expected alpha <= 1 with
    # a large constant floor from the fixed per-round job count)
    "bpe_merge_table",
    "bpe_token_frequencies",
]
PAIR_QUERIES = [
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "simhash_hamming_pairs",
    # round-5 additions: the auto-dispatched set-similarity join (probe +
    # posting join on this corpus) and the cross-doc tile dedup — both
    # must stay linear on the isomorphic-copies corpus
    "dedup_jaccard_auto",
    "tile_dedup_stats",
    # round 9: boilerplate-segment removal.  On the isomorphic-copies
    # corpus each copy carries its own (renamed) boilerplate segments,
    # so the hot set grows exactly linearly in the multiplier — the
    # realistic regime for the broadcast membership array, and the one
    # that would expose a super-linear rebuild (the rebuild path must
    # stay a zero-shuffle in-row filter at every multiplier).
    "boilerplate_clean_docs",
]
ANN_QUERIES = ["ann_bruteforce_topk"]
# round 7: embedding near-dup via IVF cells.  Replicated embeddings
# would be a DEGENERATE corpus for this operator (every copy of a
# vector is an exact near-dup of its twins -> cross-copy pairs grow
# m^2 BY CONSTRUCTION, and identical per-copy centroids collapse all
# copies into shared cells).  The iso corpus instead applies a
# PER-COPY ISOMETRY (dimension rotation, plus array reversal past one
# rotation cycle) and per-copy label ids: inner products WITHIN a copy
# are exactly the base corpus's (so each copy contributes exactly the
# base pair set), cross-copy cosines are incoherent, and each copy
# forms its own IVF cells -- true pairs grow exactly linearly in the
# multiplier.  This also sweeps the operator's REGIME DISPATCH: at
# 64 dims x 2000 base vectors the broadcast_elems=8M threshold flips
# from the single-node kernel to the distributed join form beyond 62x.
EMB_PAIR_QUERIES = ["emb_near_dup_cells"]
# round 9 continuation: the iterative co-purchase graph family after the
# broadcast-regime rework.  Copy k offsets BOTH l_orderkey and l_partkey,
# so the scaled graph is m disjoint isomorphic images of the base graph:
# |V| and |E| grow exactly linearly, per-copy structure (degree
# distribution, community shapes, core numbers) is identical, and the
# per-round rank/label vector grows linearly against a fixed round
# count — naive duplication (same partkeys) would instead keep |V|
# fixed and only inflate edge WEIGHTS, measuring the aggregate, not the
# graph.  The broadcast regime holds throughout (avg degree invariant,
# |V| stays under graph.BROADCAST_NODES_MAX to x64 at this base), so the
# curve isolates the claim that the edge list shuffles once for ALL
# rounds while the per-round broadcast grows with |V|.
GRAPH_QUERIES = [
    "pagerank_copurchase",
    "label_prop_communities",
    "kcore_copurchase",
]
EVENT_QUERIES = [
    "sessionization",
    "resample_daily_locf",
    "ewma_value",
    "rolling_weekly_active_users",
    "event_transition_matrix",
    "interval_overlap_counts",
    # round-4 continuation additions
    "interp_hourly_linear",
    "time_weighted_avg",
    "ohlc_daily_value",
    "orderby_closest_6h",
    "heavy_hitters_users",
]


def _scaled_docs(spark, mult: int, scrambled: bool):
    from pyspark.sql import functions as F

    from erddap2agol_spark.sources.tables import load_table

    base = load_table(spark, BASE_SF, "documents")
    parts = []
    for k in range(mult):
        d = base.select(
            (F.col("doc_id") + F.lit(k * ID_OFFSET)).alias("doc_id"),
            F.col("text"),
            F.col("lang"),
            F.col("source"),
        )
        if k == 0:
            d = d.withColumn("text", F.col("text"))
        elif scrambled:
            # per-copy vocabulary rename: copy k is an isomorphic image
            # of the base corpus (identical internal near-dup pair
            # structure), disjoint from every other copy's shingle space
            words = F.split(F.col("text"), r"\s+")
            d = d.withColumn(
                "text",
                F.array_join(
                    F.transform(words, lambda w: F.concat(w, F.lit(f"_{k}"))),
                    " ",
                ),
            )
        else:
            # one appended salt token: breaks exact duplication, keeps
            # token/length statistics and vocabulary growth realistic
            d = d.withColumn(
                "text", F.concat(F.col("text"), F.lit(f" zscalecopy{k}"))
            )
        parts.append(d)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.withColumn("n_chars", F.length("text").cast("long"))


def _scaled_embeddings(spark, mult: int):
    from pyspark.sql import functions as F

    from erddap2agol_spark.sources.tables import load_table

    base = load_table(spark, BASE_SF, "embeddings")
    id_col = "doc_id" if "doc_id" in base.columns else base.columns[0]
    parts = [
        base.withColumn(id_col, F.col(id_col) + F.lit(k * ID_OFFSET))
        for k in range(mult)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def _scaled_embeddings_iso(spark, mult: int):
    from pyspark.sql import functions as F

    from erddap2agol_spark.sources.tables import load_table

    base = load_table(spark, BASE_SF, "embeddings")
    dim = len(base.select("embedding").first()[0])
    parts = []
    for k in range(mult):
        e = F.col("embedding")
        if (k // dim) % 2:
            e = F.reverse(e)
        rot = k % dim
        if rot:
            e = F.concat(F.slice(e, rot + 1, dim - rot), F.slice(e, 1, rot))
        parts.append(
            base.select(
                (F.col("vec_id") + F.lit(k * ID_OFFSET)).alias("vec_id"),
                e.alias("embedding"),
                (F.col("label") + F.lit(k * 1000)).alias("label"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def _scaled_events(spark, mult: int):
    from pyspark.sql import functions as F

    from erddap2agol_spark.sources.tables import load_table

    base = load_table(spark, BASE_SF, "events")
    parts = []
    for k in range(mult):
        parts.append(
            base.withColumn("event_id", F.col("event_id") + F.lit(k * 10**12))
            .withColumn("user_id", F.col("user_id") + F.lit(k * 10**6))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def _scaled_orders(spark, mult: int):
    from pyspark.sql import functions as F

    from erddap2agol_spark.sources.tables import load_table

    base = load_table(spark, BASE_SF, "orders")
    parts = []
    for k in range(mult):
        d = base.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(k * ID_OFFSET))
        if k:
            # disjoint date ranges per copy: overlap density stays linear
            d = d.withColumn("o_orderdate", F.date_add(F.col("o_orderdate"), k * 2600))
        parts.append(d)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def build_embiso_dir(spark, mult: int) -> str:
    from erddap2agol_spark.sources.tables import TABLE_NAMES, table_path

    out_dir = os.path.join(WORK, f"x{mult}_embiso")
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLE_NAMES:
        if name == "embeddings":
            continue
        os.symlink(table_path(BASE_SF, name), table_path(out_dir, name))
    _scaled_embeddings_iso(spark, mult).coalesce(max(1, mult // 2)).write.mode(
        "overwrite"
    ).parquet(table_path(out_dir, "embeddings"))
    open(os.path.join(out_dir, "_DONE"), "w").close()
    return out_dir


def build_events_dir(spark, mult: int) -> str:
    from erddap2agol_spark.sources.tables import TABLE_NAMES, table_path

    out_dir = os.path.join(WORK, f"x{mult}_events")
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLE_NAMES:
        if name in ("events", "orders"):
            continue
        os.symlink(table_path(BASE_SF, name), table_path(out_dir, name))
    _scaled_events(spark, mult).coalesce(max(1, mult // 2)).write.mode(
        "overwrite"
    ).parquet(table_path(out_dir, "events"))
    _scaled_orders(spark, mult).coalesce(max(1, mult // 2)).write.mode(
        "overwrite"
    ).parquet(table_path(out_dir, "orders"))
    open(os.path.join(out_dir, "_DONE"), "w").close()
    return out_dir


def _scaled_lineitem(spark, mult: int):
    from pyspark.sql import functions as F

    from erddap2agol_spark.sources.tables import load_table

    base = load_table(spark, BASE_SF, "lineitem")
    parts = []
    for k in range(mult):
        parts.append(
            base.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(k * ID_OFFSET))
            .withColumn("l_partkey", F.col("l_partkey") + F.lit(k * ID_OFFSET))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def build_graph_dir(spark, mult: int) -> str:
    from erddap2agol_spark.sources.tables import TABLE_NAMES, table_path

    out_dir = os.path.join(WORK, f"x{mult}_graph")
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLE_NAMES:
        if name == "lineitem":
            continue
        os.symlink(table_path(BASE_SF, name), table_path(out_dir, name))
    _scaled_lineitem(spark, mult).coalesce(max(1, mult // 2)).write.mode(
        "overwrite"
    ).parquet(table_path(out_dir, "lineitem"))
    open(os.path.join(out_dir, "_DONE"), "w").close()
    return out_dir


def build_dir(spark, mult: int, scrambled: bool) -> str:
    from erddap2agol_spark.sources.tables import TABLE_NAMES, table_path

    tag = "scrambled" if scrambled else "salted"
    out_dir = os.path.join(WORK, f"x{mult}_{tag}")
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLE_NAMES:
        if name in ("documents", "embeddings"):
            continue
        os.symlink(table_path(BASE_SF, name), table_path(out_dir, name))
    _scaled_docs(spark, mult, scrambled).coalesce(max(1, mult // 2)).write.mode(
        "overwrite"
    ).parquet(table_path(out_dir, "documents"))
    _scaled_embeddings(spark, mult).coalesce(max(1, mult // 2)).write.mode(
        "overwrite"
    ).parquet(table_path(out_dir, "embeddings"))
    open(os.path.join(out_dir, "_DONE"), "w").close()
    return out_dir


def time_query(spec, spark, sf_dir: str) -> tuple[float, int]:
    best, rows = float("inf"), -1
    for _ in range(2):
        t0 = time.time()
        rows = spec.spark(spark, sf_dir).count()
        best = min(best, time.time() - t0)
    return best, rows


def _parse_mults(args: list[str]) -> list[int]:
    """Sorted distinct multipliers (the alpha fit takes the two LARGEST);
    usage and exit 2 on anything but positive integers (``--help`` too)."""
    try:
        mults = sorted({int(a) for a in args})
        if mults and mults[0] < 1:
            raise ValueError(mults[0])
    except ValueError:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    return mults or list(MULTS)


def main() -> None:
    # before any import that could start the JVM
    mults = _parse_mults(sys.argv[1:])

    from erddap2agol_spark.queries import REGISTRY, _load_all
    from erddap2agol_spark.session import get_spark

    _load_all()
    spark = get_spark(app_name="scale_curve")

    families = os.environ.get("SCALE_CURVE_FAMILIES", "docs,events").split(",")

    plan: list[tuple[str, str]] = []
    if "docs" in families:
        plan += (
            [(q, "salted") for q in LINEAR_QUERIES]
            + [(q, "scrambled") for q in PAIR_QUERIES]
            + [(q, "salted") for q in ANN_QUERIES]
        )
    if "events" in families:
        plan += [(q, "events") for q in EVENT_QUERIES]
    if "embiso" in families:
        plan += [(q, "embiso") for q in EMB_PAIR_QUERIES]
    if "graph" in families:
        plan += [(q, "graph") for q in GRAPH_QUERIES]

    only = os.environ.get("SCALE_CURVE_QUERIES")
    if only:
        wanted = {q.strip() for q in only.split(",") if q.strip()}
        plan = [(q, tag) for q, tag in plan if q in wanted]

    # build only the corpora the FILTERED plan touches — the builds are
    # the tool's dominant wall-clock cost
    dirs: dict[tuple[int, str], str] = {}
    tags = {tag for _, tag in plan}
    for m in mults:
        if "salted" in tags:
            dirs[(m, "salted")] = build_dir(spark, m, scrambled=False)
        if "scrambled" in tags:
            dirs[(m, "scrambled")] = build_dir(spark, m, scrambled=True)
        if "events" in tags:
            dirs[(m, "events")] = build_events_dir(spark, m)
        if "embiso" in tags:
            dirs[(m, "embiso")] = build_embiso_dir(spark, m)
        if "graph" in tags:
            dirs[(m, "graph")] = build_graph_dir(spark, m)

    results: dict[str, dict[int, tuple[float, int]]] = {}
    for q, tag in plan:
        spec = REGISTRY.get(q)
        if spec is None:
            continue
        results[q] = {}
        for m in mults:
            t, n = time_query(spec, spark, dirs[(m, tag)])
            results[q][m] = (t, n)
            print(f"  {q:28s} x{m:<3d} {t:7.2f}s  rows={n}", flush=True)

    import math

    print(f"\n{'query':28s} " + " ".join(f"x{m:<7d}" for m in mults) + "  alpha")
    summary = {}
    for q, by_m in results.items():
        times = " ".join(f"{by_m[m][0]:7.2f}" for m in mults)
        m_hi, m_lo = mults[-1], mults[-2] if len(mults) > 1 else mults[0]
        alpha = (
            math.log(by_m[m_hi][0] / by_m[m_lo][0]) / math.log(m_hi / m_lo)
            if m_hi != m_lo
            else float("nan")
        )
        summary[q] = round(alpha, 2)
        print(f"{q:28s} {times}  {alpha:5.2f}")
    print(json.dumps({"base": BASE_SF, "mults": mults, "alpha": summary}))
    spark.stop()


if __name__ == "__main__":
    main()
