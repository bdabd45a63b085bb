"""Deduplication operators for large-scale corpus curation.

Beyond-reference surface (BASELINE.json north star): exact dedup,
MinHash+LSH, SimHash, and n-gram Jaccard — each designed as pure
DataFrame algebra so the physical plan is shuffle-on-key hash aggregates
and equi-joins that scale linearly with the corpus.

Scale notes (the 100 TB story):
- Exact dedup groups on a 128-bit content hash, not the text — the shuffle
  carries 16 bytes + the keeper id per row, never the document body.
- MinHash/LSH candidate generation joins on (band, band_signature), i.e.
  only near-duplicate candidates ever meet; the full O(n^2) pair space is
  never materialized. Band buckets are the classic LSH trade: more bands →
  higher recall, bigger join fan-out.
- All hashing is md5-based, chosen deliberately: md5 is identical across
  engines, which makes every one of these operators oracle-checkable in
  DuckDB (xxhash64 would be faster JVM-side; swap via ``hash_fn`` at
  deployment, the algebra is unchanged).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.lifecycle import pinned, release_checkpoints, truncate_lineage
from ..plans.parallelism import (
    PAIR_JOIN_FANOUT_WEIGHT,
    VECTOR_FANOUT_WEIGHT,
    ensure_parallelism,
    input_bytes,
)


#: Input-size gate for jaccard_pairs_auto's shared probe/join explode
#: (ADVICE r9): below this the exploded posting relation is persisted
#: once for both consumers (~10x input when serialized — bounded);
#: above it the probe runs over the unpersisted explode, because on the
#: boilerplate-skewed corpora that dispatch to 'prefix' the persist
#: would materialize the largest relation of the pipeline for nothing.
SHARED_EXPLODE_MAX_BYTES = 64 << 20


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a lowercased text column.

    Pure array algebra (split → transform over an index sequence), fully
    codegen'd; no Python.
    """
    tokens = F.split(F.lower(col), r"\s+")
    k = F.size(tokens) - (n - 1)
    # arrays_zip of n SLICES, not transform + per-position element_at:
    # the zip walks the token array once while the indexed form pays n
    # bounds-checked lookups per gram — measured 3x on the explode
    # stage at sf0.1 (0.67 s -> 0.23 s), identical shingles (review
    # r8).  The slice length clamps at 0 so the expression is safe for
    # sub-n-token docs regardless of branch evaluation order.
    klen = F.greatest(k, F.lit(0))
    zipped = F.arrays_zip(
        *[F.slice(tokens, j + 1, klen).alias(f"w{j}") for j in range(n)]
    )
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[f"w{j}"] for j in range(n)])
    )
    return F.when(k >= 1, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup via content hash: one row per distinct content with the
    minimum id as the deterministic keeper (ST3 content-hash skip analog).

    Shuffle key is md5(text) — 16 bytes/row regardless of document size.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n_perm: int = 8, shingle_n: int = 3
) -> DataFrame:
    """MinHash signatures, one WIDE row per doc (columns m0..m{n_perm-1}).

    Hash family: the 128-bit md5 of a salted shingle is split into four
    8-hex-char chunks, each an independent 32-bit min-hashable value —
    ``ceil(n_perm/4)`` md5 calls per shingle instead of ``n_perm``, and
    ONE hash aggregate for all permutations instead of an (id, perm)
    shuffle with ``n_perm``x the rows. Map-side combine reduces each
    partition to one candidate row per doc before the exchange.
    """
    n_md5 = -(-n_perm // 4)  # ceil
    sh = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("sh"),
    )
    salts = "abcdefghijklmnopqrstuvwxyz"
    hashed = sh.select(
        "doc",
        *[
            F.md5(F.concat(F.lit(f"{salts[j]}:"), F.col("sh"))).alias(f"h{j}")
            for j in range(n_md5)
        ],
    )
    aggs = [
        F.min(F.substring(F.col(f"h{i // 4}"), 1 + 8 * (i % 4), 8)).alias(f"m{i}")
        for i in range(n_perm)
    ]
    return hashed.groupBy("doc").agg(*aggs)


def band_keys(sig: DataFrame, n_perm: int, rows_per_band: int) -> DataFrame:
    """Melt a wide signature table (``doc``, ``m0``..``m{n_perm-1}``) to
    LSH band keys ``(doc, band, band_sig)`` — one row per (doc, band),
    ``band_sig`` the ``|``-joined signature slice.  Two docs are LSH
    candidates iff they share a ``(band, band_sig)`` pair; every consumer
    of the banding (the batch self-join in :func:`lsh_candidate_pairs`,
    the streaming ingest store in ``streaming/neardup.py``) goes through
    this one melt so the bucket definition can never drift."""
    n_bands = n_perm // rows_per_band
    stack_args = ", ".join(
        f"{b}, concat_ws('|', {', '.join(f'm{b * rows_per_band + r}' for r in range(rows_per_band))})"
        for b in range(n_bands)
    )
    return sig.selectExpr(
        "doc", f"stack({n_bands}, {stack_args}) AS (band, band_sig)"
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_perm: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash-LSH candidate pairs: band the signature, bucket-join on
    (band, band_signature), emit distinct (doc_a < doc_b) pairs.

    The join is equi on the band key — Spark hash-partitions both sides by
    the bucket, so only same-bucket docs are compared. At 100 TB this is
    the only dedup strategy that doesn't quadratically explode.

    A HOT band bucket (boilerplate corpora collapse many docs into one
    (band, band_sig) bucket, and that one reducer gets the quadratic
    blow-up) is split by the session's AQE skew-join handling
    (``session.py``): the sort-merge join's oversized partition is cut
    into several tasks at run time, with no salt column or replicated
    probe side in the plan.

    Cache lifecycle (VERDICT r3 #3, pagerank pattern graph.py:142-146):
    the signature table is persisted only while this call materializes
    the pair result, then released before returning.  The RETURNED
    DataFrame is an eager checkpoint the caller owns
    (``release_checkpoints(result)`` when done).
    """
    if n_perm % rows_per_band:
        raise ValueError("n_perm must be divisible by rows_per_band")
    sig = minhash_signatures(df, id_col, text_col, n_perm, shingle_n)
    # the band self-join scans the signature table twice; pin it so the
    # shingle explode + md5 pipeline runs once (signatures are tiny:
    # n_docs x n_perm hashes).
    with pinned(sig):
        # no eager fill here, deliberately: the band self-join is a shuffle
        # equi-join whose single exchange is reused (no async broadcast
        # thread to race the cold cache — that pathology is specific to
        # broadcast-subquery plans), and an eager count() measured +1.2 s
        # steady-state per call at sf0.1 for zero benefit
        bands = band_keys(sig, n_perm, rows_per_band)
        cond = (
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc") < F.col("b.doc"))
        )
        out = (
            bands.alias("a")
            .join(bands.alias("b"), cond)
            .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
            .distinct()
        )
        # eager checkpoint, not persist: one action fills it (reading sig's
        # cache twice), and its blocks are releasable (release_checkpoints)
        out = truncate_lineage(out)
    return out


def _hex4_to_int(h: Column) -> Column:
    """First 4 hex chars -> 16-bit int, JVM-side (conv)."""
    return F.conv(F.substring(h, 1, 4), 16, 10).cast("long")


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash fingerprint per document.

    Per token: a 16-bit hash (first 4 hex chars of md5). Per bit position:
    sum of ±1 votes over tokens; fingerprint sets bits with positive vote.
    All 16 per-bit vote sums run as ONE hash aggregate with 16 columns —
    map-side combine reduces each partition to one row per doc before the
    exchange, so the shuffle carries n_docs x 16 longs, not
    n_tokens x 16 exploded rows. Near-dup detection then compares
    fingerprints by Hamming distance — ``bit_count(a XOR b)``.
    """
    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
    ).withColumn("th", _hex4_to_int(F.md5(F.col("tok"))))
    votes = toks.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.expr(f"(shiftright(th, {i}) & 1) = 1"), 1).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(16)
        ]
    )
    fp: Column = F.lit(0).cast("bigint")
    for i in range(16):
        fp = fp + F.when(F.col(f"v{i}") > 0, F.lit(1 << i).cast("bigint")).otherwise(0)
    return votes.select("doc", fp.alias("simhash"))


#: Fingerprint-table size up to which simhash_near_pairs uses the
#: cross (nested-loop) join; larger tables use the banded equi-join.
SIMHASH_CROSS_MAX_DOCS = 20_000


def simhash_near_pairs(sh: DataFrame, max_hamming: int = 2) -> DataFrame:
    """All (doc_a < doc_b) pairs within ``max_hamming`` of their SimHash,
    over :func:`simhash16`'s ``(doc, simhash)`` table.

    Two physical strategies, same result, chosen by the table's row
    count (one cheap aggregate over a usually persisted, tiny table,
    nothing next to either join): :func:`_simhash_cross_pairs` up to
    :data:`SIMHASH_CROSS_MAX_DOCS` docs, :func:`_simhash_banded_pairs`
    above.
    """
    if sh.count() <= SIMHASH_CROSS_MAX_DOCS:
        return _simhash_cross_pairs(sh, max_hamming)
    return _simhash_banded_pairs(sh, max_hamming)


def _hamming_pairs(joined: DataFrame, max_hamming: int) -> DataFrame:
    """``(doc_a, doc_b, hamming)`` of a joined ``a``/``b`` fingerprint
    pair, kept within ``max_hamming``."""
    return joined.select(
        F.col("a.doc").alias("doc_a"),
        F.col("b.doc").alias("doc_b"),
        F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias(
            "hamming"
        ),
    ).filter(F.col("hamming") <= max_hamming)


def _simhash_cross_pairs(sh: DataFrame, max_hamming: int) -> DataFrame:
    """Theta self-join (broadcast nested loop) + hamming filter.  Zero
    shuffle; wins while n^2/2 comparisons fit the cluster (fingerprints
    are 8 bytes, the compare is two codegen'd ALU ops)."""
    a, b = sh.alias("a"), sh.alias("b")
    return _hamming_pairs(a.join(b, F.col("a.doc") < F.col("b.doc")), max_hamming)


def _simhash_banded_pairs(sh: DataFrame, max_hamming: int) -> DataFrame:
    """Split the 16-bit fingerprint into ``max_hamming + 1`` disjoint bit
    bands — by pigeonhole, two fingerprints differing in <= max_hamming
    bits agree on at least one whole band — equi-join on (band,
    band_bits), verify with ``bit_count(xor)``.  Candidates only meet
    inside a band bucket: this is what survives a billion-document
    corpus, where the cross product never runs."""
    n_bands = max_hamming + 1
    base, extra = divmod(16, n_bands)
    offsets, off = [], 0
    for i in range(n_bands):
        size = base + (1 if i < extra else 0)
        offsets.append((off, size))
        off += size
    stack_args = ", ".join(
        f"{i}, (shiftright(simhash, {o}) & {(1 << s) - 1})"
        for i, (o, s) in enumerate(offsets)
    )
    bands = sh.selectExpr(
        "doc", "simhash", f"stack({n_bands}, {stack_args}) AS (band, band_bits)"
    )
    a = bands.alias("a")
    b = bands.alias("b")
    joined = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_bits") == F.col("b.band_bits"))
        & (F.col("a.doc") < F.col("b.doc")),
    )
    return _hamming_pairs(joined, max_hamming).distinct()


def _shingle_rows(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """Exploded shingle rows ``(doc, n_sh, sh)`` — the shared input of
    the posting join and the regime probe.

    TWO-STEP projection: materialize the shingle array once, then
    size/explode the COLUMN — `select(size(expr), explode(expr))`
    in one step re-evaluates the whole array expression per EXPLODED
    row (the projection sits above the Generate and rebinds to the
    original text), measured 36s -> 4.3s for the capped build at
    sf0.1.
    """
    src = ensure_parallelism(df, fanout_weight=PAIR_JOIN_FANOUT_WEIGHT)
    grams = word_shingles(F.col(text_col), shingle_n)
    base = src.select(F.col(id_col).alias("doc"), grams.alias("__g"))
    return base.select(
        "doc",
        F.size("__g").alias("n_sh"),
        F.explode("__g").alias("sh"),
    )


def _posting_pairs_from(sh: DataFrame, threshold: float) -> DataFrame:
    """The posting self-join + pair aggregate over prebuilt ``(doc,
    n_sh, sh)`` rows; lazy — caller owns ``sh``'s cache lifecycle."""
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc") < F.col("b.doc"))
            & (F.col("a.n_sh") * threshold <= F.col("b.n_sh"))
            & (F.col("b.n_sh") * threshold <= F.col("a.n_sh")),
        )
        .groupBy(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by word n-gram Jaccard similarity.

    jaccard(a,b) = |A∩B| / (|A|+|B|-|A∩B|), computed with one
    explode + self-equi-join on the shingle + a pair-count aggregate.
    The join key is the shingle, so only docs sharing at least one shingle
    ever pair up — common-shingle fan-out is the skew risk at scale.

    ``max_doc_freq`` is the web-scale knob for that risk: shingles
    appearing in more than this many documents (site boilerplate,
    licence headers) are dropped BEFORE the self-join, capping any one
    shingle's pair fan-out at ``max_doc_freq^2``.  Set sizes ``n_sh``
    are computed BEFORE the drop, so the Jaccard denominator stays
    exact; the intersection count can only lose ultra-frequent shingles,
    making the score a conservative LOWER bound (a pair reported >= t
    truly is; pairs overlapping ONLY in boilerplate disappear — which is
    the point).  The doc-frequency pass itself is a hash aggregate on
    the shingle: partial map-side combines absorb the hot keys.

    Each shingle row carries its doc's set size (one int, constant per
    doc), which buys two things: the length-ratio prune
    ``t*n_b <= n_a AND t*n_a <= n_b`` — implied by jaccard >= t because
    J <= min/max — runs INSIDE the join before any pair is aggregated,
    and the final jaccard needs no size-lookup joins at all (sizes ride
    the group key).

    Cache lifecycle (VERDICT r3 #3): the shingle explode is persisted
    only while this call materializes the pair result, then released.
    The RETURNED DataFrame is an eager checkpoint the caller owns
    (``release_checkpoints(result)`` when done).
    """
    sh = _shingle_rows(df, id_col, text_col, shingle_n)
    if max_doc_freq is not None:
        rare = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_doc_freq)
            .select("sh")
        )
        sh = sh.join(rare, "sh", "left_semi")
    # SERIALIZED blocks (r10): the exploded shingle relation is the
    # biggest thing this operator stores — ~10 rows per input row, and
    # the default DESERIALIZED cache costs several x the footprint in
    # JVM object overhead.  Measured at x16 (profile, c32): the
    # deserialized cache preceded a 6.1 s driver-visible stall (GC)
    # before the pair-join stage and the query scaled 0.93x from 8 to
    # 32 cores; serialized, the stall collapses and the join stage
    # becomes the wall.  Same move as jaccard_pairs_auto's shared
    # explode (ADVICE r9 #1).
    with pinned(sh, StorageLevel.MEMORY_AND_DISK):
        # no eager fill — same shuffle-equi-join reasoning as
        # lsh_candidate_pairs (eager count measured strictly slower).
        # The checkpoint materializes the pairs in one action (reading
        # sh's cache twice) and is releasable: consumers free it with
        # release_checkpoints(result), and
        # connected_components(release_input=True) frees it as soon as
        # its first round materializes.
        return truncate_lineage(_posting_pairs_from(sh, threshold))


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    release_input: bool = False,
) -> DataFrame:
    """Connected components over a pair list: (node, component) with the
    component labeled by its minimum node id.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) — the scale path for
    cluster formation after LSH/Jaccard pair generation. Each round is two
    hash shuffles on the node id; the edge set provably contracts toward
    star graphs in O(log^2 n) rounds (in practice a handful), so a 100 TB
    pair list never needs a driver-side union-find.

    Isolated nodes don't appear in ``edges`` and so don't appear in the
    output; callers wanting singleton clusters left-join and coalesce to
    the node's own id (see the ``dedup_clusters`` query).

    Lineage discipline (the kcore pattern): every round reads the
    previous edge set several times (window, distinct, convergence
    exceptAll), so rounds are truncated via :func:`truncate_lineage` —
    with plain persist the ANALYZED plan still nests round over round
    and driver-side optimization time grows super-linearly (measured:
    1.3s -> 14s per round by round 5 at sf0.1 before truncation).  On a
    cluster, set a checkpoint dir so rounds survive executor loss (see
    ``plans.lifecycle.truncate_lineage``).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("u")
    # canonical directed form (u > v): half the rows of the symmetric
    # representation — checkpoint, distinct, and the convergence compare
    # all run on the halved set; symmetrization happens lazily inside
    # each round (a narrow union feeding the window shuffle)
    a, b = F.col(src), F.col(dst)
    e = truncate_lineage(
        edges.select(F.greatest(a, b).alias("u"), F.least(a, b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    if release_input:
        # the canonicalized edge set is materialized — the caller's pair
        # frame (typically a checkpointed ngram_jaccard_pairs result
        # consumed ONLY by this call) is dead weight from here; opt-in
        # because a caller may keep reading its own input
        release_checkpoints(edges)
    n_e = e.count()
    for _ in range(max_iter):
        sym = e.union(e.select("v", "u"))
        # large-star: every neighbor larger than u links to
        # min(N(u) ∪ {u}); output (v, m) has v > m — already canonical
        m = F.least(F.min("v").over(w), F.col("u"))
        large = (
            sym.withColumn("m", m)
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star over directed edges (v <= u): u and all its small
        # neighbors link to the minimum of the closed neighborhood;
        # every emitted (x, m) has x > m — canonical again
        small = (
            large.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
                        F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
                    )
                ).alias("edge")
            )
            .select("edge.u", "edge.v")
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        nxt = truncate_lineage(small)
        n_new = nxt.count()
        # both are distinct sets: equal iff same size and nxt ⊆ e
        converged = n_new == n_e and nxt.exceptAll(e).isEmpty()
        # the convergence exceptAll was the LAST read of the previous
        # round — free it now (plans.lifecycle)
        release_checkpoints(e)
        e, n_e = nxt, n_new
        if converged:
            break
    # converged: stars pointing at the component min. Roots label themselves.
    comp = e.groupBy(F.col("u").alias("node")).agg(F.min("v").alias("component"))
    roots = comp.select(F.col("component").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return comp.union(roots).groupBy("node").agg(F.min("component").alias("component"))


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding near-dup pairs: all (a<b) pairs with cosine >= threshold.

    Brute-force O(n^2) — correct baseline for modest n; the scale path is
    :func:`erddap2agol_spark.operators.similarity.sign_lsh_topk`, which
    buckets by projection signs first.
    """
    from .similarity import cosine, with_norm

    v = with_norm(
        ensure_parallelism(df, fanout_weight=VECTOR_FANOUT_WEIGHT), id_col, vec_col
    )
    a = v.alias("a")
    b = v.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            cosine("a", "b").alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def cross_doc_tile_dedup(
    df: DataFrame, id_col: str, text_col: str, tile: int = 8
) -> DataFrame:
    """Cross-document exact-substring dedup over fixed token tiles —
    the suffix-array-free approximation of ExactSubstr dedup (Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models
    Better"): text is cut into consecutive ``tile``-token tiles, a tile
    is a duplicate when the SAME token run appeared earlier anywhere in
    the corpus (global first-occurrence policy, order = (doc, tile
    position)), and per-document stats report how much of each doc is
    corpus-duplicated text.

    Returns ``(doc, n_tiles, n_dup_tiles, dup_frac)``.

    Scale shape: the tile explode multiplies rows by ~n_tokens/tile but
    each carries only a 16-byte digest and a composite position; the
    keeper choice is ONE hash aggregate on the digest (min composite
    position — map-side combinable), re-joined on the digest, so both
    sides of the join reuse one digest partitioning. Document bodies
    never shuffle. Suffix arrays find duplicates at arbitrary offsets;
    the tile grid trades that exactness for a plan with no sort and no
    per-node index build, catching any duplicated run of >= 2*tile-1
    tokens at some alignment.
    """
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"), toks.alias("t")
    )
    n_tiles = F.ceil(F.size("t") / tile).cast("int")
    tiles = base.select(
        "doc",
        "t",
        F.explode(F.sequence(F.lit(0), n_tiles - 1)).alias("i"),
    ).select(
        "doc",
        "i",
        F.md5(
            F.concat_ws(" ", F.slice("t", F.col("i") * tile + 1, tile))
        ).alias("h"),
        # composite order key: first by doc, then by tile position —
        # position bounded far under 1e6 per contract of tile>=1 docs
        (F.col("doc") * F.lit(1_000_000) + F.col("i")).alias("pos"),
    )
    first = tiles.groupBy("h").agg(F.min("pos").alias("first_pos"))
    return (
        tiles.join(first, "h")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.count(F.when(F.col("pos") != F.col("first_pos"), 1)).alias(
                "n_dup_tiles"
            ),
        )
        .select(
            "doc",
            "n_tiles",
            "n_dup_tiles",
            F.round(F.col("n_dup_tiles") / F.col("n_tiles"), 4).alias("dup_frac"),
        )
    )


def cross_doc_tile_clean(
    df: DataFrame, id_col: str, text_col: str, tile: int = 8
) -> DataFrame:
    """ExactSubstr-style cleaning: rebuild each document with its
    corpus-duplicated tiles REMOVED (keeping each tile's global first
    occurrence).  Returns ``(doc, clean_text, n_kept, n_dropped)``.

    Same digest aggregate + digest join as
    :func:`cross_doc_tile_dedup`; reassembly is one per-doc
    ``collect_list`` of kept (position, tile_text) pairs sorted in
    array space — the sort happens on each doc's own handful of tiles
    inside the aggregate row, never as a global sort."""
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"), toks.alias("t")
    )
    n_tiles = F.ceil(F.size("t") / tile).cast("int")
    tiles = base.select(
        "doc",
        F.explode(F.sequence(F.lit(0), n_tiles - 1)).alias("i"),
        "t",
    ).select(
        "doc",
        "i",
        F.concat_ws(" ", F.slice("t", F.col("i") * tile + 1, tile)).alias("tile_text"),
        (F.col("doc") * F.lit(1_000_000) + F.col("i")).alias("pos"),
    ).withColumn("h", F.md5("tile_text"))
    first = tiles.groupBy("h").agg(F.min("pos").alias("first_pos"))
    joined = tiles.join(first, "h")
    kept = F.when(F.col("pos") == F.col("first_pos"), F.struct("i", "tile_text"))
    return (
        joined.groupBy("doc")
        .agg(
            F.sort_array(F.collect_list(kept)).alias("ks"),
            F.count(F.when(F.col("pos") != F.col("first_pos"), 1)).alias(
                "n_dropped"
            ),
        )
        .select(
            "doc",
            F.concat_ws(
                " ", F.transform("ks", lambda s: s["tile_text"])
            ).alias("clean_text"),
            F.size("ks").alias("n_kept"),
            "n_dropped",
        )
    )


def sparse_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.4,
    max_doc_freq: int | None = 50,
) -> DataFrame:
    """Near-duplicate pairs by WEIGHTED sparse cosine over word n-gram
    term frequencies — the all-pairs-similarity-search complement of
    :func:`ngram_jaccard_pairs`: Jaccard sees shingle SETS, cosine sees
    repetition structure (a doc repeating one boilerplate gram 50x is
    near-identical under Jaccard to one that uses it once; cosine
    separates them).

    Same posting-list shape as the Jaccard join: explode to
    ``(doc, term, tf)`` (one hash aggregate), drop terms with document
    frequency above ``max_doc_freq`` BEFORE the self-equi-join on the
    term, aggregate partial products per pair, then attach the two
    per-doc norms to the (small, post-aggregation) pair table — norms
    never ride through the explode and never join corpus-sized.
    Dot products and tf values are exact integers; the single rounded
    division at the end is IEEE-exact, so scores are bit-identical
    across engines.

    Norms are computed over the CAPPED term space, so cosine is exact
    for the filtered vector space (the score a web-scale pipeline
    actually wants: boilerplate dimensions removed, not merely
    down-weighted).

    Cache lifecycle: the posting table feeds three consumers (df cap,
    both join sides, norms); it is persisted only while this call
    materializes the pair table, then released blocking.  The RETURNED
    DataFrame is an eager checkpoint the caller owns
    (``release_checkpoints(result)`` when done).
    """
    from .text import word_ngrams

    d = ensure_parallelism(df)
    tf = (
        d.select(
            F.col(id_col).alias("doc"),
            F.explode(word_ngrams(F.col(text_col), shingle_n)).alias("term"),
        )
        .groupBy("doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    if max_doc_freq is not None:
        docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        tf = tf.join(
            docfreq.where(F.col("df") <= max_doc_freq).select("term"),
            "term",
            "left_semi",
        )
    with pinned(tf):
        tf.count()  # eager fill — see jaccard_prefix_pairs: broadcast
        # builds on async threads must find a warm cache
        norms = tf.groupBy("doc").agg(
            F.sqrt(F.sum(F.col("tf") * F.col("tf"))).alias("nrm")
        )
        a = tf.select(
            "term", F.col("doc").alias("doc_a"), F.col("tf").alias("tf_a")
        )
        b = tf.select(
            "term", F.col("doc").alias("doc_b"), F.col("tf").alias("tf_b")
        )
        dots = (
            a.join(b, "term")
            .where(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
        )
        na = norms.select(F.col("doc").alias("doc_a"), F.col("nrm").alias("na"))
        nb = norms.select(F.col("doc").alias("doc_b"), F.col("nrm").alias("nb"))
        out = (
            dots.join(na, "doc_a")
            .join(nb, "doc_b")
            .select(
                "doc_a",
                "doc_b",
                F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cos_sim"),
            )
            .where(F.col("cos_sim") >= threshold)
        )
        # eager checkpoint, not persist (releasable)
        return truncate_lineage(out)


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard pairs via PREFIX FILTERING (the PPJoin/Vernica
    MapReduce set-similarity join): a candidate generator that beats
    the full posting-list join by exploding only each set's PREFIX —
    its ``n - ceil(t*n) + 1`` globally RAREST shingles.

    Why it is complete: two sets with jaccard >= t overlap in more
    than ``n - prefix`` elements, so they cannot avoid sharing at
    least one prefix element under ANY fixed global order; ordering by
    ascending document frequency additionally makes the joined keys
    the rarest ones, so per-key fan-out is minimal exactly where the
    full posting join explodes (common shingles are carried by long
    postings but almost never appear in prefixes).

    Verification is exact and columnar: candidate pairs (deduped
    first) pull both full sorted shingle arrays through two doc-keyed
    joins and score ``array_intersect`` in codegen — per-pair O(n)
    with no further shuffle.  Scores are integer-ratio exact.

    Scale shape: one shingle-df aggregate, one per-doc sort of its own
    shingle list (array_sort in the scan stage — not a corpus sort),
    the prefix equi-join, then candidate-bounded verify joins.  The
    returned frame is the same contract as ``ngram_jaccard_pairs`` at
    the same threshold (an equivalence test asserts it).

    WHEN TO PICK WHICH: prefix filtering wins when document frequency
    is SKEWED — web boilerplate shingles with df in the millions that
    would dominate the full posting join's sum(df^2) pairwork never
    appear in prefixes.  On a corpus with near-uniform df (measured on
    the synthetic test corpus: max df 25), prefix collisions barely
    prune, and ``ngram_jaccard_pairs``'s plain posting join — tiny
    rows, map-side-combining pair counts — is decisively cheaper than
    shipping full shingle arrays to 100x-overgenerated candidates.
    The cheap sum(df^2)-vs-threshold probe on the df table is the
    planner's selection signal.
    """
    d = ensure_parallelism(df)
    # no size>0 filter on the computed array: the alias-substituted
    # filter would push below the fan-out and re-run the shingle
    # build in the single-split scan stage; empty sets drop out of
    # the posting explode on their own
    sets = d.select(
        F.col(id_col).alias("doc"),
        word_shingles(F.col(text_col), shingle_n).alias("sh"),
    )
    # global shingle rarity (document frequency)
    posting = sets.select("doc", F.explode("sh").alias("g"))
    dfreq = posting.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    # per-doc shingle list sorted by (df, shingle): a total order, so
    # array_sort of the struct list is deterministic
    ordered = (
        posting.join(dfreq, "g")
        .groupBy("doc")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df"), F.col("g")))
            ).alias("ds")
        )
        .select(
            "doc",
            F.transform(F.col("ds"), lambda s: s["g"]).alias("sh"),
            F.size("ds").alias("n_sh"),
        )
    )
    # three consumers (prefix explode + both verify sides): pin + EAGER
    # fill, so the verify joins' async broadcast builds find a warm
    # cache instead of racing a cold one
    with pinned(ordered):
        ordered.count()
        prefix_len = (
            F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
        ).cast("int")
        pre = ordered.select(
            "doc",
            "n_sh",
            F.explode(F.slice(F.col("sh"), 1, prefix_len)).alias("g"),
        )
        a = pre.select(
            F.col("g"),
            F.col("doc").alias("doc_a"),
            F.col("n_sh").alias("na"),
        )
        b = pre.select(
            F.col("g"),
            F.col("doc").alias("doc_b"),
            F.col("n_sh").alias("nb"),
        )
        cand = (
            a.join(b, "g")
            .where(
                (F.col("doc_a") < F.col("doc_b"))
                # length prune: J >= t implies t*max(na,nb) <= min(na,nb)
                & (F.lit(threshold) * F.col("nb") <= F.col("na"))
                & (F.lit(threshold) * F.col("na") <= F.col("nb"))
            )
            .select("doc_a", "doc_b")
            .distinct()
        )
        sa = ordered.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("na"))
        sb = ordered.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("nb"))
        inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        out = (
            cand.join(sa, "doc_a")
            .join(sb, "doc_b")
            .select(
                "doc_a",
                "doc_b",
                inter.alias("n_common"),
                F.col("na").alias("n_a"),
                F.col("nb").alias("n_b"),
                F.round(
                    inter / (F.col("na") + F.col("nb") - inter), 6
                ).alias("jaccard"),
            )
            .where(F.col("jaccard") >= threshold)
        )
        # eager checkpoint, not persist (releasable)
        return truncate_lineage(out)


#: Mean pair fan-out per posting row (``sum(df^2) / sum(df)``) above
#: which jaccard_pairs_auto takes the prefix join (see
#: :func:`jaccard_regime_probe`).
PREFIX_FANOUT_THRESHOLD = 64.0


def jaccard_regime_probe(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3
) -> str:
    """Pick the set-similarity join strategy from the corpus's document-
    frequency profile: ``"posting"`` (``ngram_jaccard_pairs``) or
    ``"prefix"`` (``jaccard_prefix_pairs``).

    The posting join's pairwork is ``sum(df^2)`` over shingles; its cost
    PER POSTING ROW is the mean pair fan-out ``sum(df^2) / sum(df)``. On
    a near-uniform corpus (this repo's synthetic documents: max df 25)
    that ratio stays tiny and the posting join's small-row,
    map-side-combining shape wins decisively (~40x on the test corpus,
    BENCH_NOTES r4 regime note). Under boilerplate skew — web shingles
    with df in the millions — the ratio explodes while prefix filtering
    never joins on those keys, so prefix wins. The crossover is broad;
    :data:`PREFIX_FANOUT_THRESHOLD` (64) sits comfortably inside it (a
    posting row expecting >64 partners is already fan-out-bound, while
    prefix overgeneration costs ~100x constant work).
    """
    return _fanout_regime(_shingle_rows(df, id_col, text_col, shingle_n))


def _fanout_regime(sh: DataFrame) -> str:
    """The probe proper: ONE hash aggregate over ``(doc, n_sh, sh)``
    shingle rows reduced to a single driver-side row — a plan-time
    statistics read (what AQE does with shuffle stats), not a data
    path; the scalar never joins row data."""
    row = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(
            F.sum(F.col("df")).alias("n"),
            F.sum(F.col("df") * F.col("df")).alias("p"),
        )
        .first()
    )
    if not row or not row["n"]:
        return "posting"  # empty corpus: cheap default
    return "prefix" if row["p"] / row["n"] > PREFIX_FANOUT_THRESHOLD else "posting"


def jaccard_pairs_auto(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard pairs with AUTOMATIC regime selection (VERDICT r4
    #2: the sum(df^2) probe promoted from a docstring note to a
    dispatching operator — a user no longer picks the wrong regime
    silently).

    Runs the :func:`jaccard_regime_probe` aggregate, then dispatches to
    the posting join (near-uniform df) or the PPJoin prefix join
    (skewed df). Both branches return the same contract ``(doc_a,
    doc_b, jaccard)`` with identical integer-ratio-exact scores at the
    same threshold (the prefix branch's extra bookkeeping columns are
    projected away).

    Shared explode (r9, SIZE-GATED r10 per ADVICE r9): on a SMALL
    corpus (:data:`SHARED_EXPLODE_MAX_BYTES`), the shingle explode is
    built once, persisted SERIALIZED, aggregated by the probe (filling
    the cache), and — in the posting regime — fed straight to the pair
    join, which reads the cache instead of re-exploding the corpus.
    Past the gate, or when the input size is unknown, the probe
    aggregates over the UNPERSISTED explode: on a boilerplate-skewed
    web corpus — exactly where the probe picks 'prefix' and the explode
    is at its largest — an unconditional persist materialized the
    entire posting relation into executor storage just to compute a
    two-scalar aggregate, then dropped it.  A large posting corpus pays
    one extra explode pass instead (cache only what is certain to be
    reused — guide §5).
    """
    size = input_bytes(df)
    if size is not None and size <= SHARED_EXPLODE_MAX_BYTES:
        # serialized blocks: the exploded posting relation is the
        # biggest thing this operator ever stores; the deserialized
        # default costs several x the footprint for one re-read
        with pinned(
            _shingle_rows(df, id_col, text_col, shingle_n),
            StorageLevel.MEMORY_AND_DISK,
        ) as sh:
            if _fanout_regime(sh) == "posting":
                return truncate_lineage(_posting_pairs_from(sh, threshold))
    elif jaccard_regime_probe(df, id_col, text_col, shingle_n) == "posting":
        return ngram_jaccard_pairs(
            df, id_col, text_col, shingle_n=shingle_n, threshold=threshold
        )
    return jaccard_prefix_pairs(
        df, id_col, text_col, shingle_n=shingle_n, threshold=threshold
    ).select("doc_a", "doc_b", "jaccard")
