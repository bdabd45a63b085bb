"""Similarity operators: brute-force vs LSH vs IVF recall, by-ordinal
join (J5), and operator unit coverage not reached via queries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from erddap2agol_spark.operators import joins, similarity
from erddap2agol_spark.operators.filters import nonnull_columns
from erddap2agol_spark.operators.windows import with_row_number
from erddap2agol_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings")


def _topk_sets(df):
    rows = df.collect()
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def test_ivf_recall_vs_bruteforce(spark, emb):
    queries = emb.filter(F.col("vec_id") < 10)
    exact = _topk_sets(similarity.brute_force_topk(queries, emb, "vec_id", "embedding", k=5))
    ivf = _topk_sets(
        similarity.ivf_topk(queries, emb, "vec_id", "embedding", k=5, n_centroids=4, n_probe=2)
    )
    # probing half the cells must recover a meaningful share of true top-5
    hits = sum(len(exact[q] & ivf.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.5
    # every IVF result ranks correctly (rk 1..5, unique)
    for q, s in ivf.items():
        assert len(s) <= 5


def test_sign_lsh_subset_of_bucketmates(spark, emb):
    queries = emb.filter(F.col("vec_id") < 5)
    lsh = similarity.sign_lsh_topk(queries, emb, "vec_id", "embedding", k=3, bits=4)
    rows = lsh.collect()
    assert all(r.rk <= 3 for r in rows)
    assert all(r.cos_sim <= 1.0 for r in rows)


def test_match_by_name(spark):
    left = spark.createDataFrame([("a", 1), ("b", 2)], ["name", "lv"])
    right = spark.createDataFrame([("b", 20), ("a", 10)], ["name", "rv"])
    out = joins.match_by_name_or_ordinal(left, right, "name")
    assert {(r.name, r.lv, r.rv_right) for r in out.collect()} == {("a", 1, 10), ("b", 2, 20)}


def test_match_by_ordinal(spark):
    left = spark.createDataFrame([("x", 1), ("y", 2)], ["name", "lv"])
    right = spark.createDataFrame([("q", 20), ("p", 10)], ["name", "rv"])
    out = joins.match_by_name_or_ordinal(left, right, "name", by_order=True)
    # position pairing after per-side name sort: (x,p), (y,q)
    assert {(r.name, r.rv_right) for r in out.collect()} == {("x", 10), ("y", 20)}


def test_nonnull_columns_probe(spark):
    df = spark.createDataFrame(
        [(1, None, "a"), (2, None, None)], schema="x int, dead string, half string"
    )
    assert nonnull_columns(df, ["x", "dead", "half"]) == ["x", "half"]


def test_with_row_number(spark):
    df = spark.createDataFrame([("b",), ("a",)], ["v"])
    out = with_row_number(df, ["v"])
    assert [(r.v, r.rowid) for r in out.orderBy("rowid").collect()] == [("a", 1), ("b", 2)]


def test_matrix_topk_matches_zipwith(spark, emb):
    queries = emb.filter(F.col("vec_id") < 10)
    a = similarity.brute_force_topk(queries, emb, "vec_id", "embedding", k=5)
    b = similarity.brute_force_topk_matrix(queries, emb, "vec_id", "embedding", k=5)
    ra = sorted((r.query_id, r.neighbor_id, r.rk, r.cos_sim) for r in a.collect())
    rb = sorted((r.query_id, r.neighbor_id, r.rk, r.cos_sim) for r in b.collect())
    assert ra == rb


def test_connected_components_shapes(spark):
    """Chains, a triangle, and a 2-node component must each collapse to
    their min id; isolated nodes never appear in the output."""
    from erddap2agol_spark.operators.dedup import connected_components

    pairs = [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12),
             (20, 21), (5, 6), (6, 7), (7, 8), (8, 9)]
    df = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    got = sorted((r.node, r.component) for r in connected_components(df).collect())
    assert got == [(1, 1), (2, 1), (3, 1), (4, 1), (5, 5), (6, 5), (7, 5),
                   (8, 5), (9, 5), (10, 10), (11, 10), (12, 10), (20, 20), (21, 20)]


def test_connected_components_empty_and_single(spark):
    from erddap2agol_spark.operators.dedup import connected_components

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(empty).count() == 0
    one = spark.createDataFrame([(7, 3)], ["doc_a", "doc_b"])
    assert sorted(map(tuple, connected_components(one).collect())) == [(3, 3), (7, 3)]


def test_simhash_near_pairs_strategies_agree(spark):
    """Banded pigeonhole join and the cross join are physical strategies
    over the same algebra — identical pair sets, hamming included."""
    from erddap2agol_spark.operators import dedup
    from erddap2agol_spark.plans.lifecycle import pinned

    docs = load_table(spark, SF, "documents")
    # released on exit: a leftover cache entry fails the CacheManager
    # hygiene assertions of tests that run after this one
    with pinned(dedup.simhash16(docs, "doc_id", "text")) as sh:
        cross = {tuple(r) for r in dedup._simhash_cross_pairs(sh, 2).collect()}
        banded = {tuple(r) for r in dedup._simhash_banded_pairs(sh, 2).collect()}
    assert cross == banded and cross


@pytest.mark.parametrize("seed,n_nodes,n_edges", [(1, 60, 40), (2, 80, 120), (3, 50, 25)])
def test_connected_components_vs_union_find(spark, seed, n_nodes, n_edges):
    """Randomized graphs: the distributed star-contraction must agree
    with a driver-side union-find on every node's component min."""
    import random

    from erddap2agol_spark.operators.dedup import connected_components

    rng = random.Random(seed)
    edges = [(rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {x for e in edges for x in e}
    expect = sorted((x, find(x)) for x in touched)

    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = sorted((r.node, r.component) for r in connected_components(df).collect())
    assert got == expect


def test_quota_per_group_and_hash_split_validation(spark):
    from erddap2agol_spark.operators import sampling

    rows = [(g, i) for g in ("a", "b") for i in range(5)]
    df = spark.createDataFrame(rows, ["grp", "ord"])
    capped = sampling.quota_per_group(df, "grp", "ord", 3)
    got = sorted((r.grp, r.ord) for r in capped.collect())
    assert got == [("a", 0), ("a", 1), ("a", 2), ("b", 0), ("b", 1), ("b", 2)]

    with pytest.raises(ValueError):
        sampling.hash_split(df, "ord", {"train": 0.5, "test": 0.1})


def test_hash_split_stable_under_growth(spark):
    """The defining property: adding rows never moves an existing row's
    split assignment (hash-of-id, not position or rand)."""
    from erddap2agol_spark.operators import sampling

    small = spark.range(100)
    big = spark.range(1000)
    frac = {"train": 0.8, "val": 0.1, "test": 0.1}
    s = {r.id: r.split for r in sampling.hash_split(small, "id", frac).collect()}
    b = {r.id: r.split for r in sampling.hash_split(big, "id", frac).collect()}
    assert all(b[i] == v for i, v in s.items())


def test_interval_join_keyed_and_binned_agree(spark):
    from erddap2agol_spark.operators.joins import interval_join

    pts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([0.5, 1.0, 2.5, 7.0, 9.99, 10.0])],
        ["pid", "x"],
    )
    ivs = spark.createDataFrame(
        [(100, 0.0, 1.0), (200, 0.5, 3.0), (300, 9.0, None), (400, 2.5, 2.5)],
        "iid long, lo double, hi double",
    )
    # keyless binned strategy can't express unbounded-above: bound it for
    # the comparison and check the NULL-hi row only via the keyed path
    keyed = interval_join(
        pts.withColumn("k", F.lit(1)), ivs.withColumn("k", F.lit(1)),
        "x", "lo", "hi", on=["k"],
    )
    got_keyed = sorted((r.pid, r.iid) for r in keyed.collect())
    assert got_keyed == [(0, 100), (0, 200), (1, 200), (2, 200), (4, 300), (5, 300)]

    bounded = ivs.fillna({"hi": 100.0})
    binned = interval_join(pts, bounded, "x", "lo", "hi", bin_width=2.0)
    got_binned = sorted((r.pid, r.iid) for r in binned.collect())
    assert got_binned == got_keyed


def test_pack_index_invariants(spark):
    """Packing invariants: spans tile every doc exactly; every chunk
    except each shard's last is filled to exactly context_len with
    non-overlapping position ranges."""
    from collections import defaultdict

    from erddap2agol_spark.operators.sampling import pack_index
    from erddap2agol_spark.operators.text import token_count
    from erddap2agol_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    with_len = docs.select("doc_id", token_count(F.col("text")).alias("n_tok"))
    lens = {r.doc_id: r.n_tok for r in with_len.collect()}
    rows = pack_index(with_len, "doc_id", "n_tok", 512, n_shards=4).collect()

    per_doc = defaultdict(list)
    per_chunk = defaultdict(list)
    for r in rows:
        per_doc[r.doc_id].append((r.tok_begin, r.tok_end))
        per_chunk[(r.shard, r.chunk)].append((r.pos_begin, r.pos_begin + r.tok_end - r.tok_begin))
    for d, spans in per_doc.items():
        spans.sort()
        assert spans[0][0] == 0 and spans[-1][1] == lens[d]
        assert all(a[1] == b[0] for a, b in zip(spans, spans[1:]))
    last_chunk = {}
    for (sh, c) in per_chunk:
        last_chunk[sh] = max(last_chunk.get(sh, -1), c)
    for (sh, c), spans in per_chunk.items():
        spans.sort()
        assert spans[0][0] == 0 and all(a[1] == b[0] for a, b in zip(spans, spans[1:]))
        filled = spans[-1][1]
        assert filled == 512 or c == last_chunk[sh]


def test_ivf_deterministic_recall_and_cells(spark, emb):
    queries = emb.filter(F.col("vec_id") < 10)
    exact = _topk_sets(similarity.brute_force_topk(queries, emb, "vec_id", "embedding", k=5))
    ivf = _topk_sets(
        similarity.ivf_topk_deterministic(
            queries, emb, "vec_id", "embedding", label_col="label", k=5, n_probe=3
        )
    )
    hits = sum(len(exact[q] & ivf.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    # at sf0.001 (100 vecs) random labels make weak quantizer cells;
    # 3/10 probes still must beat the ~0.3 random-cell floor clearly
    assert hits / total >= 0.4
    for s in ivf.values():
        assert len(s) <= 5


def test_jl_project_reproducible_and_shaped(spark):
    from erddap2agol_spark.operators.similarity import jl_project

    df = spark.createDataFrame(
        [(1, [float(i) for i in range(64)]), (2, [1.0] * 64)],
        ["vec_id", "embedding"],
    )
    a = {r["id"]: r["jvec"] for r in jl_project(df, "vec_id", "embedding", k=16).collect()}
    b = {r["id"]: r["jvec"] for r in jl_project(df, "vec_id", "embedding", k=16).collect()}
    assert a == b                      # no stored state, still reproducible
    assert all(len(v) == 16 for v in a.values())
    c = jl_project(df, "vec_id", "embedding", k=16, salt="other").collect()
    assert {r["id"]: r["jvec"] for r in c} != a   # salt draws a new matrix


def test_weighted_topk_matches_python_reference(spark):
    """The operator's sample equals a pure-Python Efraimidis-Spirakis
    reference (same md5 draw arithmetic) — end-to-end determinism of
    both the global (TakeOrderedAndProject) and grouped (rank window)
    forms."""
    import hashlib

    from pyspark.sql import functions as F

    from erddap2agol_spark.operators.sampling import weighted_topk_sample

    rows = [(i, (i % 7), "g%d" % (i % 3)) for i in range(60)]
    df = spark.createDataFrame(rows, ["id", "wt", "grp"])

    def key(i, w):
        w = min(64, max(1, w))
        return max(
            int(
                hashlib.md5(f"estopk:{i}:{d}".encode()).hexdigest()[:12], 16
            )
            for d in range(1, w + 1)
        )

    ref = {i: key(i, w) for i, w, _ in rows if w >= 1}
    want_global = sorted(ref, key=lambda i: (-ref[i], i))[:5]
    got_global = [
        r["id"]
        for r in weighted_topk_sample(df, "id", F.col("wt"), 5).collect()
    ]
    assert got_global == want_global

    got_grouped = {
        (r["grp"], r["rk"]): r["id"]
        for r in weighted_topk_sample(
            df, "id", F.col("wt"), 3, by="grp"
        ).collect()
    }
    for g in ("g0", "g1", "g2"):
        members = [i for i, w, gg in rows if gg == g and w >= 1]
        want = sorted(members, key=lambda i: (-ref[i], i))[:3]
        assert [got_grouped[(g, r)] for r in (1, 2, 3)] == want


def test_weighted_topk_marginals_proportional_to_weight(spark):
    """Scheme exactness, empirically: over 400 independent salts the
    FIRST pick lands on an item with frequency ~ w/sum(w) (the ES
    guarantee the exponential-min argument buys). One Spark job."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    items = [("a", 1), ("b", 2), ("c", 4)]
    n_salts = 400
    df = (
        spark.range(n_salts)
        .select(F.col("id").alias("salt"))
        .crossJoin(spark.createDataFrame(items, ["item", "w"]))
        .select(
            "salt", "item", F.explode(F.sequence(F.lit(1), F.col("w"))).alias("d")
        )
        .select(
            "salt",
            "item",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(":", F.col("salt"), F.col("item"), F.col("d"))
                    ),
                    1,
                    12,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("hv"),
        )
        .groupBy("salt", "item")
        .agg(F.max("hv").alias("wkey"))
    )
    w = Window.partitionBy("salt").orderBy(F.desc("wkey"), F.col("item"))
    first = (
        df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .groupBy("item")
        .count()
        .collect()
    )
    freq = {r["item"]: r["count"] / n_salts for r in first}
    assert abs(freq.get("c", 0) - 4 / 7) < 0.08, freq
    assert abs(freq.get("b", 0) - 2 / 7) < 0.08, freq
    assert freq.get("a", 0) < freq.get("b", 0) < freq.get("c", 0), freq


def test_weighted_topk_edge_cases(spark):
    """weight < 1 rows never sampled; k >= n returns every eligible
    row; the max_weight cap bounds the fan-out (equal clamped weights
    => key distribution identical regardless of raw weight)."""
    from pyspark.sql import functions as F

    from erddap2agol_spark.operators.sampling import weighted_topk_sample

    df = spark.createDataFrame(
        [(1, 0), (2, -3), (3, 5), (4, 1)], ["id", "wt"]
    )
    got = weighted_topk_sample(df, "id", F.col("wt"), 10)
    assert sorted(r["id"] for r in got.collect()) == [3, 4]

    big = spark.createDataFrame([(1, 100), (2, 3)], ["id", "wt"])
    capped = weighted_topk_sample(big, "id", F.col("wt"), 2, max_weight=3)
    uncapped_at_3 = weighted_topk_sample(
        spark.createDataFrame([(1, 3), (2, 3)], ["id", "wt"]),
        "id",
        F.col("wt"),
        2,
        max_weight=64,
    )
    assert {(r["id"], r["wkey"]) for r in capped.collect()} == {
        (r["id"], r["wkey"]) for r in uncapped_at_3.collect()
    }


def test_stack_rows_zero_copy_and_fallback():
    """_stack_rows (the Arrow-batch matrix seam of assign_cells_fast and
    cell_near_dup_pairs): shared-buffer views reconstruct
    zero-copy; ragged or detached rows fall back to vstack with the same
    values."""
    import numpy as np
    import pandas as pd

    from erddap2agol_spark.operators.similarity import _stack_rows

    n, d = 1000, 16
    flat = np.arange(n * d, dtype=np.float32)
    views = pd.Series([flat[i * d : (i + 1) * d] for i in range(n)])
    m = _stack_rows(views)
    assert m.shape == (n, d) and np.shares_memory(m, flat)  # zero-copy path
    np.testing.assert_array_equal(m, flat.reshape(n, d))
    # detached copies (no shared base): exact same matrix via vstack
    detached = pd.Series([np.array(v) for v in views])
    m2 = _stack_rows(detached)
    assert not np.shares_memory(m2, flat)
    np.testing.assert_array_equal(m2, m)


def test_stack_rows_heterogeneous_rows_fall_back(spark):
    """ADVICE r5: the zero-copy fast path is chosen from element 0
    alone; a later non-ndarray row (mixed list/ndarray object Series)
    must fall back to vstack, not crash the scan task with
    AttributeError."""
    import numpy as np
    import pandas as pd

    from erddap2agol_spark.operators.similarity import _stack_rows

    n, d = 8, 4
    flat = np.arange(n * d, dtype=np.float32)
    rows = [flat[i * d : (i + 1) * d] for i in range(n)]
    rows[5] = list(rows[5])  # heterogeneous: a plain-list row
    m = _stack_rows(pd.Series(rows, dtype=object))
    np.testing.assert_array_equal(m, flat.reshape(n, d))


def test_stack_rows_rejects_permuted_views():
    """A permuted set of views into one buffer must NOT take the
    zero-copy path (it would reshape into the wrong row order); the
    vstack fallback returns the caller's order (review r5)."""
    import numpy as np
    import pandas as pd

    from erddap2agol_spark.operators.similarity import _stack_rows

    n, d = 6, 4
    flat = np.arange(n * d, dtype=np.float32)
    views = [flat[i * d : (i + 1) * d] for i in range(n)]
    views[1], views[2] = views[2], views[1]  # same span, permuted interior
    m = _stack_rows(pd.Series(views))
    assert not np.shares_memory(m, flat) or (m[1] == views[1]).all()
    np.testing.assert_array_equal(m, np.vstack(views))


def test_bruteforce_matrix_chunked_query_blocks(spark, emb, monkeypatch):
    """VERDICT r7 #5: a query set larger than one broadcast block must
    stream in fixed-size blocks (bounded driver memory) and produce the
    SAME result as the single-collect path."""
    queries = emb.filter(F.col("vec_id") < 40)
    one = similarity.brute_force_topk_matrix(
        queries, emb, "vec_id", "embedding", k=3
    )
    # dims=64 -> block_rows = max(1, 640//64) = 10 -> 4 blocks of 10
    monkeypatch.setattr(similarity, "TOPK_QUERY_BLOCK_ELEMS", 640)
    blocked = similarity.brute_force_topk_matrix(
        queries, emb, "vec_id", "embedding", k=3
    )
    assert sorted(map(tuple, one.collect())) == sorted(
        map(tuple, blocked.collect())
    )
    # empty query set still degrades to the contract schema
    empty = similarity.brute_force_topk_matrix(
        emb.filter(F.col("vec_id") < 0), emb, "vec_id", "embedding", k=3
    )
    assert empty.columns == ["query_id", "neighbor_id", "cos_sim", "rk"]
    assert empty.count() == 0
