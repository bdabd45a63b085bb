"""Edge cases for round-3 operators: empty inputs, degenerate groups,
single nodes — the shapes a 100 TB pipeline hits at partition margins."""

from __future__ import annotations

from pyspark.sql import functions as F

from erddap2agol_spark.operators.graph import pagerank
from erddap2agol_spark.operators.sampling import shuffle_order
from erddap2agol_spark.operators.spatial import zorder_key
from erddap2agol_spark.operators.text import bloom_contamination
from erddap2agol_spark.plans.lifecycle import release_checkpoints

from .test_opt_r09 import _persistent_rdd_ids


def test_pagerank_empty_edges(spark):
    """An empty graph returns an empty frame with the usual schema, and
    releasing it frees everything the call checkpointed."""
    edges = spark.createDataFrame([], "a long, b long")
    base = _persistent_rdd_ids(spark)
    out = pagerank(edges)
    assert out.dtypes == [("node", "bigint"), ("deg", "bigint"), ("rank", "double")]
    assert out.count() == 0
    release_checkpoints(out)
    assert not (_persistent_rdd_ids(spark) - base)


def test_pagerank_single_edge_symmetric(spark):
    edges = spark.createDataFrame([(1, 2)], ["a", "b"])
    rows = {r.node: r for r in pagerank(edges, iterations=3).collect()}
    # two symmetric nodes: equal degree, equal rank, mass sums to 1
    assert rows[1].deg == rows[2].deg == 1
    assert abs(rows[1].rank - rows[2].rank) < 1e-12
    assert abs(rows[1].rank + rows[2].rank - 1.0) < 1e-9


def test_pagerank_star_ranks_hub_highest(spark):
    edges = spark.createDataFrame([(0, i) for i in range(1, 6)], ["a", "b"])
    rows = {r.node: r.rank for r in pagerank(edges, iterations=5).collect()}
    assert rows[0] == max(rows.values())
    leaf_ranks = [v for k, v in rows.items() if k != 0]
    assert max(leaf_ranks) - min(leaf_ranks) < 1e-12


def test_bloom_contamination_empty_bench(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta", "corpus")],
        ["doc_id", "text", "source"],
    )
    out = bloom_contamination(docs, bench_sources=("nope",), n=5).collect()
    # no benchmark docs -> empty filter -> nothing flagged, grams counted
    assert len(out) == 1
    assert out[0].n_maybe_contaminated == 0 and out[0].n_ngrams == 2


def test_shuffle_order_is_permutation(spark):
    docs = spark.range(500).select(F.col("id").alias("doc_id"))
    out = shuffle_order(docs, "doc_id", n_shards=4).collect()
    assert len(out) == 500
    # (shard, pos) is a bijection; positions are 1..n contiguous per shard
    assert len({(r.shard, r.pos) for r in out}) == 500
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard


def test_shuffle_order_salt_changes_order(spark):
    docs = spark.range(200).select(F.col("id").alias("doc_id"))
    a = {r.doc_id: (r.shard, r.pos) for r in shuffle_order(docs, "doc_id", salt="e1").collect()}
    b = {r.doc_id: (r.shard, r.pos) for r in shuffle_order(docs, "doc_id", salt="e2").collect()}
    assert a != b  # a fresh epoch draws a different permutation


def test_zorder_key_locality(spark):
    # four quadrant corners: interleaved keys must place same-quadrant
    # points closer in key space than cross-quadrant ones
    pts = spark.createDataFrame(
        [(1, 0.1, 0.1), (2, 0.12, 0.11), (3, 0.9, 0.9), (4, 0.88, 0.91)],
        ["id", "lat", "lon"],
    )
    out = {
        r.id: r.z
        for r in pts.select(
            "id", zorder_key(F.col("lat"), F.col("lon"), 0.0, 1.0, 0.0, 1.0).alias("z")
        ).collect()
    }
    assert abs(out[1] - out[2]) < abs(out[1] - out[3])
    assert abs(out[3] - out[4]) < abs(out[2] - out[1]) or out[3] != out[4]
    # deterministic and within 2*bits range
    assert all(0 <= v < (1 << 32) for v in out.values())


def test_pagerank_mass_conservation_random_graph(spark):
    """On any connected-ish undirected graph the rank vector must stay a
    probability distribution: positive everywhere, summing to 1 (the
    no-dangling-nodes argument in the docstring, checked numerically on
    a seeded random graph)."""
    import random

    rng = random.Random(7)
    edges = list({(min(a, b), max(a, b))
                  for a, b in ((rng.randrange(60), rng.randrange(60))
                               for _ in range(300)) if a != b})
    df = spark.createDataFrame(edges, ["a", "b"])
    rows = pagerank(df, iterations=6).collect()
    total = sum(r.rank for r in rows)
    assert abs(total - 1.0) < 1e-9
    assert all(r.rank > 0 for r in rows)
    # node set = exactly the vertices of the edge list
    verts = {v for e in edges for v in e}
    assert {r.node for r in rows} == verts


def test_zorder_injective_on_distinct_cells(spark):
    """The Morton interleave must be injective over distinct quantized
    (lat, lon) cells — two different cells can never share a key (keys
    within one cell may collide by design)."""
    import random

    rng = random.Random(11)
    pts = [(i, rng.uniform(0, 10), rng.uniform(0, 10)) for i in range(2000)]
    df = spark.createDataFrame(pts, ["id", "lat", "lon"])
    out = df.select(
        F.floor(F.col("lat") / 10.0 * 65535).alias("qlat"),
        F.floor(F.col("lon") / 10.0 * 65535).alias("qlon"),
        zorder_key(F.col("lat"), F.col("lon"), 0.0, 10.0, 0.0, 10.0).alias("z"),
    ).collect()
    cells = {}
    for r in out:
        cells.setdefault((r.qlat, r.qlon), set()).add(r.z)
    # one key per cell...
    assert all(len(zs) == 1 for zs in cells.values())
    # ...and no key shared across cells
    keys = [next(iter(zs)) for zs in cells.values()]
    assert len(keys) == len(set(keys))


def test_bloom_no_false_negatives_random_corpus(spark):
    """Randomized replay of the one-sided-error guarantee: on a seeded
    corpus with planted contamination, the Bloom flag count dominates
    the exact count for every document."""
    import random

    from erddap2agol_spark.operators.text import contamination_counts

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(80)]
    def doc():
        return " ".join(rng.choice(vocab) for _ in range(30))
    bench_docs = [(i, doc(), "bench") for i in range(10)]
    # plant: some corpus docs embed a full bench doc (guaranteed overlap)
    corpus_docs = []
    for i in range(10, 60):
        text = doc()
        if i % 5 == 0:
            text = bench_docs[i % 10][1] + " " + text
        corpus_docs.append((i, text, "corpus"))
    df = spark.createDataFrame(bench_docs + corpus_docs, ["doc_id", "text", "source"])
    exact = {r.doc_id: r.n_contaminated
             for r in contamination_counts(df, ("bench",), n=5).collect()}
    bloom = {r.doc_id: r.n_maybe_contaminated
             for r in bloom_contamination(df, ("bench",), n=5).collect()}
    assert set(exact) == set(bloom)
    assert all(bloom[d] >= n for d, n in exact.items())
    # the planted docs really are contaminated (test isn't vacuous)
    assert sum(1 for n in exact.values() if n > 0) >= 10


def test_outputs_keep_ntz_flavor(spark):
    """Timezone-independence invariant: queries over NTZ sources must
    emit NTZ timestamps (a bare LTZ output renders in the CLIENT's zone
    at collect time — py4j uses the machine tz, not the session tz —
    which shifted three graded queries on a simulated non-UTC driver).
    Pins the fixes in resample_locf / tumbling / time_extent /
    epoch_convert / the erddap_sim connector schema."""
    from erddap2agol_spark.queries import REGISTRY, _load_all

    _load_all()
    sf = "/root/testdata/sf0.001"
    cases = {
        "resample_daily_locf": "grid_ts",
        "tumbling_daily": "bucket_start",
        "time_extent": "max_time",
        "epoch_convert": "epoch_ts",
        "connector_scan": "ts",
    }
    for name, col in cases.items():
        df = REGISTRY[name].spark(spark, sf)
        flavor = df.schema[col].dataType.simpleString()
        assert flavor == "timestamp_ntz", f"{name}.{col} is {flavor}"


def test_zorder_clamps_out_of_extent(spark):
    """ADVICE r3: coordinates outside the stated extent must clamp to
    the edge cell — never alias (via sign-fill shiftright bits) into the
    middle of valid key space."""
    bits = 16
    df = spark.createDataFrame(
        [
            ("below", -5.0, -7.0),
            ("corner_lo", 0.0, 0.0),
            ("corner_hi", 1.0, 1.0),
            ("above", 9.9, 12.3),
        ],
        ["id", "lat", "lon"],
    )
    rows = {
        r.id: r.z
        for r in df.select(
            "id",
            zorder_key(F.col("lat"), F.col("lon"), 0.0, 1.0, 0.0, 1.0, bits).alias("z"),
        ).collect()
    }
    zmax = (1 << (2 * bits)) - 1
    assert rows["below"] == rows["corner_lo"] == 0
    assert rows["above"] == rows["corner_hi"] == zmax
    assert all(0 <= z <= zmax for z in rows.values())


class TestSparseCosine:
    """dedup.sparse_cosine_pairs: weighted APSS planted cases."""

    def test_repetition_separates_from_jaccard(self, spark):
        from erddap2agol_spark.operators.dedup import sparse_cosine_pairs

        base = "alpha beta gamma delta"
        rows = [
            (1, base),
            (2, base),  # exact dup of 1
            (3, base + " " + "alpha beta gamma " * 20),  # heavy repetition
            (4, "zz yy xx ww vv uu"),
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        out = sparse_cosine_pairs(
            df, "doc_id", "text", shingle_n=3, threshold=0.0, max_doc_freq=None
        )
        got = {(r.doc_a, r.doc_b): r.cos_sim for r in out.collect()}
        assert got[(1, 2)] == 1.0  # identical vectors
        # repetition-heavy doc is similar but NOT identical to the base
        assert 0.0 < got[(1, 3)] < 1.0
        assert (1, 4) not in got and (2, 4) not in got  # no shared term

    def test_df_cap_removes_boilerplate_dimension(self, spark):
        from erddap2agol_spark.operators.dedup import sparse_cosine_pairs

        # every doc shares the same boilerplate trigram; unique content
        # differs. With the cap the boilerplate dimension vanishes and
        # docs become orthogonal.
        rows = [(i, f"common legal header u{i} v{i} w{i}") for i in range(6)]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        capped = sparse_cosine_pairs(
            df, "doc_id", "text", shingle_n=3, threshold=0.01, max_doc_freq=3
        )
        n = capped.count()
        assert n == 0
        uncapped = sparse_cosine_pairs(
            df, "doc_id", "text", shingle_n=3, threshold=0.01, max_doc_freq=None
        )
        m = uncapped.count()
        uncapped.unpersist()
        assert m == 15  # all pairs share the boilerplate dimension

    def test_no_cache_leak(self, spark):
        from erddap2agol_spark.operators.dedup import sparse_cosine_pairs

        from erddap2agol_spark.plans.lifecycle import release_checkpoints

        base = _persistent_rdd_ids(spark)
        out = sparse_cosine_pairs(
            spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], "doc_id int, text string"),
            "doc_id",
            "text",
            threshold=0.0,
        )
        # r9: the result is checkpoint-backed (releasable), not a
        # CacheManager-pinned persist (which GC never reclaims)
        release_checkpoints(out)
        assert not (_persistent_rdd_ids(spark) - base)


class TestJaccardPrefixFilter:
    """jaccard_prefix_pairs: PPJoin-style candidate generation must be
    COMPLETE (equal to the full posting join) and actually prune."""

    def _docs(self, spark):
        base = "w%d x%d y%d z%d"
        rows = [(i, " ".join(base % (i, i, i, i) for _ in range(3))) for i in range(20)]
        # planted near-dups: 100/101 share most shingles; 102 unrelated
        rows += [
            (100, "aa bb cc dd ee ff gg hh"),
            (101, "aa bb cc dd ee ff gg xx"),
            (102, "qq rr ss tt uu vv"),
        ]
        return spark.createDataFrame(rows, "doc_id int, text string")

    def test_equivalent_to_full_posting_join(self, spark):
        from erddap2agol_spark.operators.dedup import (
            jaccard_prefix_pairs,
            ngram_jaccard_pairs,
        )

        docs = self._docs(spark)
        for t in (0.3, 0.5, 0.8):
            got = {
                (r.doc_a, r.doc_b, r.jaccard)
                for r in jaccard_prefix_pairs(
                    docs, "doc_id", "text", shingle_n=3, threshold=t
                ).collect()
            }
            full = ngram_jaccard_pairs(
                docs, "doc_id", "text", shingle_n=3, threshold=t
            )
            want = {
                (r.doc_a, r.doc_b, round(r.jaccard, 6))
                for r in full.select(
                    "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
                ).collect()
            }
            assert got == want, f"t={t}"

    def test_planted_pair_found(self, spark):
        from erddap2agol_spark.operators.dedup import jaccard_prefix_pairs

        out = {
            (r.doc_a, r.doc_b)
            for r in jaccard_prefix_pairs(
                self._docs(spark), "doc_id", "text", shingle_n=3, threshold=0.5
            ).collect()
        }
        assert (100, 101) in out
        assert not any(102 in p for p in out)

    def test_prefix_explode_smaller_than_full(self, spark):
        from erddap2agol_spark.operators.dedup import word_shingles

        docs = self._docs(spark)
        sets = docs.select(
            word_shingles(F.col("text"), 3).alias("sh")
        ).where(F.size("sh") > 0)
        full_rows = sets.select(F.explode("sh")).count()
        # at t=0.8 the prefix is ~1/5 of each set
        pref_rows = sets.select(
            F.explode(
                F.slice(
                    F.col("sh"),
                    1,
                    (F.size("sh") - F.ceil(F.lit(0.8) * F.size("sh")) + 1).cast("int"),
                )
            )
        ).count()
        assert pref_rows < full_rows * 0.45


def test_simhash_query_releases_scaffolding(spark):
    """simhash_hamming_pairs owns exactly ONE cache entry after running
    (its materialized result); the fingerprint scaffolding is released
    (the VERDICT r3 #3 lifecycle, applied at the query layer too)."""
    from erddap2agol_spark.queries import REGISTRY, _load_all

    _load_all()

    def ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    # start from a clean cache: the CacheManager dedups by LOGICAL PLAN,
    # so a leaked entry from an earlier run of the same query (e.g. the
    # parity sweep) would be silently reused and no new id would appear
    # ("Asked to cache already cached data"), making the delta vacuous.
    # id-set arithmetic, not global counts, because the async
    # ContextCleaner may drop old unreferenced entries at any time.
    spark.catalog.clearCache()
    before = ids()
    out = REGISTRY["simhash_hamming_pairs"].spark(
        spark, "/root/testdata/sf0.001"
    )
    new_ids = ids() - before
    assert len(new_ids) == 1  # result only; fingerprint table released
    from erddap2agol_spark.plans.lifecycle import release_checkpoints

    release_checkpoints(out)  # r9: checkpoint-backed result
    assert not (ids() - before)
