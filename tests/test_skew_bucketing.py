"""Skew mitigation, bucketed co-located joins, fleet NRT refresh, TF-IDF."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from erddap2agol_spark.operators import skew
from erddap2agol_spark.operators.text import tfidf_features
from erddap2agol_spark.sources.tables import load_table
from erddap2agol_spark.streaming import nrt

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def skewed(spark):
    # 90% of rows share one hot key
    return spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit("HOT")).otherwise(F.lit("cold")).alias("k"),
        F.col("id").alias("uid"),
        (F.col("id") % 100).cast("double").alias("v"),
    )


def test_salted_agg_matches_plain(spark, skewed):
    plain = {
        (r.k): (r.n, r.s)
        for r in skewed.groupBy("k")
        .agg(F.count("v").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    salted = {
        (r.k): (r.v_count, r.v_sum)
        for r in skew.salted_agg(
            skewed, ["k"], {"v": "count"} | {}, "uid", n_salts=8
        ).join(
            skew.salted_agg(skewed, ["k"], {"v": "sum"}, "uid", n_salts=8), "k"
        ).collect()
    }
    assert plain == salted


def test_salted_agg_spreads_hot_key(spark, skewed):
    # stage-1 output has up to n_salts rows for the hot key
    salted = skewed.withColumn("__salt", skew.deterministic_salt("uid", 8))
    partial = salted.groupBy("k", "__salt").count()
    hot = partial.filter(F.col("k") == "HOT").count()
    assert hot > 1  # the hot key now occupies multiple reducers


def test_salted_join_matches_plain(spark, skewed):
    dim = spark.createDataFrame([("HOT", 1.5), ("cold", 2.0)], ["k", "w"])
    plain = skewed.join(dim, "k").agg(F.round(F.sum(F.col("v") * F.col("w")), 4)).first()[0]
    salted = (
        skew.salted_join(skewed, dim, "k", "uid", n_salts=4)
        .agg(F.round(F.sum(F.col("v") * F.col("w")), 4))
        .first()[0]
    )
    assert plain == salted


def test_deterministic_salt_stable(spark, skewed):
    a = skewed.select("uid", skew.deterministic_salt("uid", 8).alias("s")).collect()
    b = skewed.select("uid", skew.deterministic_salt("uid", 8).alias("s")).collect()
    assert a == b
    assert all(0 <= r.s < 8 for r in a)


def test_salted_agg_rejects_nonalgebraic(spark, skewed):
    with pytest.raises(ValueError):
        skew.salted_agg(skewed, ["k"], {"v": "median"}, "uid")


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """bucketBy co-located join: both sides bucketed on the key ->
    SortMergeJoin with ZERO Exchange in the plan (the 100 TB co-location
    strategy; at real scale this replaces the dominant shuffle)."""
    import contextlib
    import io
    import re

    # (warehouse dir is a static conf; bucketed tables land in the default
    # spark-warehouse/, dropped in the finally block)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    try:
        li = load_table(spark, SF, "lineitem")
        orders = load_table(spark, SF, "orders")
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable("li_b")
        orders.selectExpr("o_orderkey AS l_orderkey", "o_totalprice").write.bucketBy(
            8, "l_orderkey"
        ).sortBy("l_orderkey").mode("overwrite").saveAsTable("o_b")
        joined = spark.table("li_b").join(spark.table("o_b"), "l_orderkey")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 0, plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


def test_refresh_many_fleet(spark, tmp_path):
    ev = load_table(spark, SF, "events")
    datasets = {
        "ds_a": ev.filter(F.col("user_id") % 2 == 0),
        "ds_b": ev.filter(F.col("user_id") % 2 == 1),
        "ds_bad": ev.select(F.col("event_id").alias("no_ts_col")),  # will fail
    }
    report = nrt.refresh_many(datasets, "ts", str(tmp_path / "fleet"), max_workers=3)
    assert report["ds_a"]["published"] and report["ds_b"]["published"]
    assert not report["ds_bad"]["published"]  # isolated failure (O13)
    assert "error" in report["ds_bad"]["reason"]
    assert nrt.read_current(spark, str(tmp_path / "fleet/ds_a")).count() > 0


def test_tfidf_features(spark):
    docs = load_table(spark, SF, "documents").limit(50)
    feats = tfidf_features(docs, "doc_id", "text")
    rows = feats.collect()
    assert len(rows) == 50
    assert all(r.features.size == 1 << 12 for r in rows)
    assert any(r.features.numNonzeros() > 0 for r in rows)


# ---------------------------------------------------------------------------
# Dedup skew knobs (VERDICT r1 #7): frequent-shingle cap + band salting
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def boilerplate_docs(spark):
    """40 distinct docs that all share one planted boilerplate sentence
    (the hot shingle) plus per-doc unique content; docs 0/1 and 2/3 are
    true near-dups of each other."""
    rows = []
    boiler = "all rights reserved copyright two thousand site inc"
    for i in range(40):
        base = i - 1 if i in (1, 3) else i  # near-dups copy the PREVIOUS body
        toks = [f"u{base}w{j}" for j in range(10)]
        if i in (1, 3):
            toks[-1] = "CHANGED"  # one token differs from the original
        rows.append((i, " ".join(toks) + " " + boiler))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_jaccard_max_doc_freq_drops_boilerplate_pairs(spark, boilerplate_docs):
    from erddap2agol_spark.operators import dedup

    # without the cap: every doc pair shares the boilerplate shingles ->
    # pair fan-out is all-pairs even though almost none pass the threshold
    uncapped = dedup.ngram_jaccard_pairs(
        boilerplate_docs, "doc_id", "text", shingle_n=3, threshold=0.5
    )
    got_uncapped = {(r.doc_a, r.doc_b) for r in uncapped.collect()}
    # with the cap: boilerplate shingles (df=40 > 8) never enter the join;
    # the true near-dup pairs still surface through their unique shingles
    capped = dedup.ngram_jaccard_pairs(
        boilerplate_docs, "doc_id", "text", shingle_n=3, threshold=0.2,
        max_doc_freq=8,
    )
    got_capped = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert (0, 1) in got_capped and (2, 3) in got_capped
    # no boilerplate-only pair survives the cap
    assert all(b - a == 1 and a in (0, 2) for a, b in got_capped)
    # and the capped jaccard is a lower bound: every capped pair's score
    # <= the uncapped score for the same pair
    unc = {(r.doc_a, r.doc_b): r.jaccard for r in uncapped.collect()}
    cap = {(r.doc_a, r.doc_b): r.jaccard for r in capped.collect()}
    for p, j in cap.items():
        if p in unc:
            assert j <= unc[p] + 1e-9


def test_lsh_band_salting_result_invariant(spark, boilerplate_docs):
    from erddap2agol_spark.operators import dedup

    base = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(
            boilerplate_docs, "doc_id", "text", n_perm=8, rows_per_band=2
        ).collect()
    }
    salted = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(
            boilerplate_docs, "doc_id", "text", n_perm=8, rows_per_band=2,
            n_salts=4,
        ).collect()
    }
    assert base == salted and base  # identical pairs, non-empty


def test_dedup_pair_builders_release_scaffolding(spark):
    """VERDICT r3 #3: lsh_candidate_pairs / ngram_jaccard_pairs must not
    leak their internal persist (signature table / shingle explode)
    across invocations.  Contract: the ONLY storage entry left behind is
    the returned, already-materialized result — which the caller can
    release — so a full-registry sweep cannot accumulate scaffolding."""
    from erddap2agol_spark.operators import dedup
    from erddap2agol_spark.plans.lifecycle import release_checkpoints

    docs = load_table(spark, SF, "documents").limit(200)

    def rdd_ids():
        it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
        out = set()
        while it.hasNext():
            out.add(it.next())
        return out

    # set-based, not count-based: another test's stale entries may be
    # reclaimed concurrently; only entries THIS test creates matter
    base = rdd_ids()
    out = dedup.lsh_candidate_pairs(docs, "doc_id", "text", n_perm=8, rows_per_band=2)
    assert len(rdd_ids() - base) == 1  # result only; signature cache released
    # r9: results are checkpoint-backed (releasable), not
    # CacheManager-pinned persists (never GC-reclaimed)
    release_checkpoints(out)
    assert not (rdd_ids() - base)

    out2 = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", max_doc_freq=100)
    assert len(rdd_ids() - base) == 1  # result only; shingle cache released
    release_checkpoints(out2)
    assert not (rdd_ids() - base)
