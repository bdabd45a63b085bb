"""Deduplication queries over the ``documents`` / ``embeddings`` tables.

Every oracle mirrors the Spark algebra exactly — shingling, md5-based
minhash, sign conventions — so the results are bit-comparable. The test
corpus has planted near-duplicates (jaccard >= 0.5 isolates them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import dedup
from ..plans.parallelism import ensure_parallelism
from ..sources.tables import load_table
from . import register

# Shared DuckDB CTE: word-3-gram shingles per document (mirrors
# dedup.word_shingles: lowercase, \s+ split, distinct 3-grams).
_SHINGLES_CTE = """
    sh AS (
      SELECT doc_id AS doc,
             unnest(list_distinct(list_transform(generate_series(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
      FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t FROM documents)
    )
"""


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    doc="Exact dedup by content hash; deterministic min-id keeper. The "
    "shuffle carries 16-byte hashes, never document bodies.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
    common AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(n_common AS DOUBLE) / (x.n_sh + y.n_sh - n_common), 6) AS jaccard
    FROM common JOIN sizes x ON doc_a = x.doc JOIN sizes y ON doc_b = y.doc
    WHERE round(CAST(n_common AS DOUBLE) / (x.n_sh + y.n_sh - n_common), 6) >= 0.5
    """,
    doc="Near-dup pairs by word-3-gram Jaccard >= 0.5 (isolates the "
    "planted near-duplicates). Pairs meet only through a shared shingle.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=3, threshold=0.5)


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    h AS (SELECT doc, md5('a:' || sh) AS h0, md5('b:' || sh) AS h1 FROM sh),
    sig AS (
      SELECT doc,
             min(substr(h0, 1, 8))  AS m0, min(substr(h0, 9, 8))  AS m1,
             min(substr(h0, 17, 8)) AS m2, min(substr(h0, 25, 8)) AS m3,
             min(substr(h1, 1, 8))  AS m4, min(substr(h1, 9, 8))  AS m5,
             min(substr(h1, 17, 8)) AS m6, min(substr(h1, 25, 8)) AS m7
      FROM h GROUP BY doc
    ),
    bands AS (
      SELECT doc, 0 AS band, m0 || '|' || m1 AS band_sig FROM sig UNION ALL
      SELECT doc, 1, m2 || '|' || m3 FROM sig UNION ALL
      SELECT doc, 2, m4 || '|' || m5 FROM sig UNION ALL
      SELECT doc, 3, m6 || '|' || m7 FROM sig
    )
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc < b.doc
    """,
    doc="MinHash(8 perms, chunked-md5 hash family) + LSH(4 bands x 2 rows) "
    "candidate pairs — the scale path: candidates meet only inside a band "
    "bucket; 2 md5 calls per shingle, one hash aggregate for all perms.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.lsh_candidate_pairs(docs, "doc_id", "text", n_perm=8, rows_per_band=2)


_HEX = "0123456789abcdef"


@register(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id AS doc, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
      FROM documents
    ),
    th AS (
      SELECT doc,
             (instr('{_HEX}', h[1]) - 1) * 4096 + (instr('{_HEX}', h[2]) - 1) * 256 +
             (instr('{_HEX}', h[3]) - 1) * 16   + (instr('{_HEX}', h[4]) - 1) AS th
      FROM (SELECT doc, md5(tok) AS h FROM toks)
    ),
    votes AS (
      SELECT doc, pos, sum(CASE WHEN (th >> pos) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS pos)
      GROUP BY doc, pos
    )
    SELECT doc, CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << pos) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM votes GROUP BY doc
    """,
    doc="16-bit SimHash fingerprints (md5-derived token hashes, ±1 bit "
    "votes). Near-dups then compare by Hamming distance.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash16(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
    common AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM common JOIN sizes x ON doc_a = x.doc JOIN sizes y ON doc_b = y.doc
      WHERE round(CAST(n_common AS DOUBLE) / (x.n_sh + y.n_sh - n_common), 6) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    root AS (SELECT u AS node, least(min(v), u) AS root FROM reach GROUP BY u),
    lab AS (
      SELECT d.doc_id, coalesce(r.root, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN root r ON d.doc_id = r.node
    )
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM lab
    """,
    doc="Near-dup CLUSTER formation: Jaccard>=0.5 pairs -> connected "
    "components (alternating large-star/small-star, Kiveris et al. "
    "SoCC'14) -> every document labeled with its component's min doc_id "
    "(singletons label themselves). The oracle computes the same "
    "components via a recursive transitive closure — fine at sf0.01, "
    "while the Spark side is the O(log n)-round algorithm that survives "
    "100 TB pair lists.",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=3, threshold=0.5)
    comp = dedup.connected_components(pairs, release_input=True)
    # no broadcast hint: at web scale the label table is every doc that
    # appears in any pair — AQE picks broadcast when it is in fact small
    lab = docs.select("doc_id").join(
        comp, docs.doc_id == comp.node, "left"
    ).select(
        "doc_id", F.coalesce("component", "doc_id").alias("cluster_id")
    )
    return lab.withColumn(
        "cluster_size", F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
    )


_VEC_CTE = """
    v AS (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    )
"""


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH {_VEC_CTE}
    SELECT doc_a, doc_b, cos_sim FROM (
      SELECT a.id AS doc_a, b.id AS doc_b,
             round(list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm), 6) AS cos_sim
      FROM v a JOIN v b ON a.id < b.id
    ) WHERE cos_sim >= 0.4
    """,
    doc="Embedding near-dup pairs: cosine >= 0.4, brute-force baseline "
    "(the LSH-bucketed variant is the scale path, see ann_sign_lsh).",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.embedding_cosine_pairs(emb, "vec_id", "embedding", threshold=0.4)


@register(
    "dedup_lsh_rescored",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    h AS (SELECT doc, md5('a:' || sh) AS h0, md5('b:' || sh) AS h1 FROM sh),
    sig AS (
      SELECT doc,
             min(substr(h0, 1, 8))  AS m0, min(substr(h0, 9, 8))  AS m1,
             min(substr(h0, 17, 8)) AS m2, min(substr(h0, 25, 8)) AS m3,
             min(substr(h1, 1, 8))  AS m4, min(substr(h1, 9, 8))  AS m5,
             min(substr(h1, 17, 8)) AS m6, min(substr(h1, 25, 8)) AS m7
      FROM h GROUP BY doc
    ),
    bands AS (
      SELECT doc, 0 AS band, m0 || '|' || m1 AS band_sig FROM sig UNION ALL
      SELECT doc, 1, m2 || '|' || m3 FROM sig UNION ALL
      SELECT doc, 2, m4 || '|' || m5 FROM sig UNION ALL
      SELECT doc, 3, m6 || '|' || m7 FROM sig
    ),
    cand AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc < b.doc
    ),
    arr AS (
      SELECT doc_id AS doc,
             list_distinct(list_transform(generate_series(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sa
      FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t FROM documents)
      WHERE len(t) >= 3
    )
    SELECT doc_a, doc_b,
           round(CAST(len(list_intersect(x.sa, y.sa)) AS DOUBLE)
                 / (len(x.sa) + len(y.sa) - len(list_intersect(x.sa, y.sa))), 6) AS jaccard
    FROM cand JOIN arr x ON doc_a = x.doc JOIN arr y ON doc_b = y.doc
    WHERE round(CAST(len(list_intersect(x.sa, y.sa)) AS DOUBLE)
                / (len(x.sa) + len(y.sa) - len(list_intersect(x.sa, y.sa))), 6) >= 0.5
    """,
    doc="THE two-stage scale pipeline: MinHash-LSH recall stage generates "
    "candidates through band buckets, then the exact-Jaccard verify "
    "stage computes array_intersect only on candidate pairs — the "
    "corpus-wide shingle self-join never runs. At 100 TB this is the "
    "only shape where exact scoring is affordable: cost is "
    "O(candidates), not O(shared-shingle pairs).",
)
def dedup_lsh_rescored(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    cand = dedup.lsh_candidate_pairs(docs, "doc_id", "text", n_perm=8, rows_per_band=2)
    grams = dedup.word_shingles(F.col("text"), 3)
    # No size>0 filter on the computed array: Catalyst substitutes the
    # alias and pushes the filter below the fan-out repartition, running
    # the whole shingle computation a second time inside the
    # single-split scan stage (measured: 8s of the query's 10s at
    # sf0.1).  The filter is redundant anyway — every candidate doc has
    # shingles by construction (it carries a MinHash signature).
    arr = ensure_parallelism(docs).select(
        F.col("doc_id").alias("doc"), grams.alias("sa")
    )
    inter = F.size(F.array_intersect(F.col("x.sa"), F.col("y.sa")))
    return (
        cand.join(arr.alias("x"), F.col("doc_a") == F.col("x.doc"))
        .join(arr.alias("y"), F.col("doc_b") == F.col("y.doc"))
        .withColumn(
            "jaccard",
            F.round(
                inter / (F.size(F.col("x.sa")) + F.size(F.col("y.sa")) - inter), 6
            ),
        )
        .where(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


@register(
    "dedup_ngram_capped",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
    rare AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY sh)
             WHERE df <= 10),
    kept AS (SELECT doc, sh FROM sh WHERE sh IN (SELECT sh FROM rare)),
    common AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_common
      FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc < b.doc
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(n_common AS DOUBLE) / (x.n_sh + y.n_sh - n_common), 6) AS jaccard
    FROM common JOIN sizes x ON doc_a = x.doc JOIN sizes y ON doc_b = y.doc
    WHERE round(CAST(n_common AS DOUBLE) / (x.n_sh + y.n_sh - n_common), 6) >= 0.5
    """,
    doc="Near-dup pairs with the web-scale frequent-shingle cap: shingles "
    "in more than 10 documents (site boilerplate at corpus scale) are "
    "dropped BEFORE the self-join, bounding any shingle's pair fan-out at "
    "df^2. Set sizes stay exact (computed pre-drop), so the reported "
    "jaccard is a conservative lower bound and every emitted pair is a "
    "true >= t pair.",
)
def dedup_ngram_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.5, max_doc_freq=10
    )


@register(
    "dedup_incremental",
    oracle="""
    WITH existing AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 5 <> 0
    ),
    incoming AS (
      SELECT doc_id, md5(text) AS content_hash
      FROM documents WHERE doc_id % 5 = 0
    )
    SELECT doc_id, content_hash FROM incoming i
    WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.h = i.content_hash)
    """,
    doc="Incremental corpus ingestion: an incoming batch (1-in-5 docs "
    "by id here) is admitted only if its content hash is absent from "
    "the existing corpus's fingerprint store — the production shape of "
    "exact dedup, where yesterday's 100 TB never rescans: the anti-join "
    "shuffles 16-byte digests and ids only, never document bodies, and "
    "the store side is just the digest column of the existing snapshot.",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    existing = (
        docs.where(F.col("doc_id") % 5 != 0)
        .select(F.md5("text").alias("content_hash"))
        .distinct()
    )
    incoming = docs.where(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.md5("text").alias("content_hash")
    )
    return incoming.join(existing, "content_hash", "left_anti").select(
        "doc_id", "content_hash"
    )


@register(
    "minhash_estimate_accuracy",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    h AS (SELECT doc, md5('a:' || sh) AS h0, md5('b:' || sh) AS h1 FROM sh),
    sigs AS (
      SELECT doc,
             min(substr(h0, 1, 8))  AS p0, min(substr(h0, 9, 8))  AS p1,
             min(substr(h0, 17, 8)) AS p2, min(substr(h0, 25, 8)) AS p3,
             min(substr(h1, 1, 8))  AS p4, min(substr(h1, 9, 8))  AS p5,
             min(substr(h1, 17, 8)) AS p6, min(substr(h1, 25, 8)) AS p7
      FROM h GROUP BY doc
    ),
    sizes AS (SELECT doc, count(DISTINCT sh) AS n_sh FROM sh GROUP BY doc),
    cand AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b,
             (CASE WHEN a.p0 = b.p0 THEN 1 ELSE 0 END + CASE WHEN a.p1 = b.p1 THEN 1 ELSE 0 END +
              CASE WHEN a.p2 = b.p2 THEN 1 ELSE 0 END + CASE WHEN a.p3 = b.p3 THEN 1 ELSE 0 END +
              CASE WHEN a.p4 = b.p4 THEN 1 ELSE 0 END + CASE WHEN a.p5 = b.p5 THEN 1 ELSE 0 END +
              CASE WHEN a.p6 = b.p6 THEN 1 ELSE 0 END + CASE WHEN a.p7 = b.p7 THEN 1 ELSE 0 END)
               AS n_match
      FROM sigs a JOIN sigs b ON a.doc < b.doc
      WHERE a.p0 = b.p0 OR a.p4 = b.p4
    ),
    scored AS (
      SELECT doc_a, doc_b, round(n_match / 8.0, 6) AS jaccard_est,
             (SELECT count(*) FROM (
                SELECT sh FROM sh WHERE sh.doc = doc_a
                INTERSECT
                SELECT sh FROM sh WHERE sh.doc = doc_b)) AS n_common
      FROM cand WHERE n_match >= 4
    )
    SELECT doc_a, doc_b, jaccard_est,
           round(CAST(n_common AS DOUBLE)
                 / (x.n_sh + y.n_sh - n_common), 6) AS jaccard_exact
    FROM scored JOIN sizes x ON doc_a = x.doc JOIN sizes y ON doc_b = y.doc
    """,
    doc="Sketch-accuracy report: for candidate pairs sharing a MinHash "
    "perm, the 8-perm signature estimate (matching perms / 8) next to "
    "the exact shingle Jaccard — the calibration readout that tells an "
    "operator whether the configured band/perm budget is tight enough "
    "before trusting LSH verdicts at full scale. Signature algebra is "
    "identical to dedup_minhash_lsh; the exact rescore touches only "
    "surviving candidates (never all pairs).",
)
def minhash_estimate_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", shingle_n=3)
    a, b = sigs.alias("a"), sigs.alias("b")
    match = sum(
        F.when(F.col(f"a.m{i}") == F.col(f"b.m{i}"), 1).otherwise(0)
        for i in range(8)
    )
    # ADVICE r3: an OR of equalities cannot hash-partition (Spark falls
    # back to BroadcastNestedLoopJoin over the full signature cross
    # product).  Generate candidates as a UNION of one equi-join per
    # band key — each hash-partitions on its key, mirroring
    # dedup_minhash_lsh's banded bucket join — then distinct the pairs
    # (a pair matching on BOTH bands appears in both branches).
    def _band(key: str) -> DataFrame:
        return a.join(
            b,
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col("a.doc") < F.col("b.doc")),
        ).select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            match.alias("n_match"),
        )

    cand = (
        _band("m0")
        .unionAll(_band("m4"))
        .distinct()
        .where(F.col("n_match") >= 4)
        .withColumn("jaccard_est", F.round(F.col("n_match") / 8.0, 6))
        .drop("n_match")
    )
    # ensure_parallelism: documents at bench SF is a ONE-split parquet
    # scan, and an unspread ~52x shingle fan-out runs single-threaded
    # (measured: the bare explode 8.7 s -> 1.1 s with the spread)
    sh = ensure_parallelism(docs).select(
        F.col("doc_id").alias("doc"),
        # word_shingles is already distinct per doc
        F.explode(dedup.word_shingles(F.col("text"), 3)).alias("sh"),
    )
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    # the exact rescore touches ONLY candidate docs: semi-join the
    # shingle explode down to the (tiny) candidate set before the pair
    # join, so one boilerplate shingle shared corpus-wide can never fan
    # out quadratically here (the df-capped ngram operator owns the
    # corpus-wide form)
    cand_docs = cand.select(F.col("doc_a").alias("doc")).unionAll(
        cand.select(F.col("doc_b").alias("doc"))
    ).distinct()
    csh = sh.join(F.broadcast(cand_docs), "doc", "left_semi")
    common = (
        csh.alias("x")
        .join(csh.alias("y"), "sh")
        .where(F.col("x.doc") < F.col("y.doc"))
        .groupBy(F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        cand.join(common, ["doc_a", "doc_b"], "left")
        .na.fill({"n_common": 0})
        .join(sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard_est",
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 6
            ).alias("jaccard_exact"),
        )
    )


@register(
    "tile_dedup_stats",
    oracle="""
    WITH base AS (
      SELECT doc_id AS doc, regexp_split_to_array(lower(text), '\\s+') AS t
      FROM documents
    ),
    tiles AS (
      SELECT doc, i - 1 AS i,
             md5(array_to_string(t[(i - 1) * 8 + 1 : (i - 1) * 8 + 8], ' ')) AS h,
             doc * 1000000 + (i - 1) AS pos
      FROM base, unnest(generate_series(1, CAST(ceil(len(t) / 8.0) AS INT))) AS u(i)
    ),
    first AS (SELECT h, min(pos) AS first_pos FROM tiles GROUP BY h)
    SELECT doc, count(*) AS n_tiles,
           count(CASE WHEN pos <> first_pos THEN 1 END) AS n_dup_tiles,
           round(count(CASE WHEN pos <> first_pos THEN 1 END)
                 / CAST(count(*) AS DOUBLE), 4) AS dup_frac
    FROM tiles JOIN first USING (h)
    GROUP BY doc
    ORDER BY doc
    """,
    doc="Cross-document exact-substring dedup over 8-token tiles "
    "(ExactSubstr approximation, Lee et al. 2021): per document, how "
    "many of its tiles already appeared earlier in the corpus (global "
    "first-occurrence keeper by (doc, position)). One digest aggregate "
    "+ one digest equi-join, both on the same 16-byte key — document "
    "bodies never shuffle.",
)
def tile_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = dedup.cross_doc_tile_dedup(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", tile=8
    )
    return out.orderBy("doc")


@register(
    "tile_dedup_clean",
    oracle="""
    WITH base AS (
      SELECT doc_id AS doc, regexp_split_to_array(lower(text), '\\s+') AS t
      FROM documents
    ),
    tiles AS (
      SELECT doc, i - 1 AS i,
             array_to_string(t[(i - 1) * 8 + 1 : (i - 1) * 8 + 8], ' ') AS tile_text,
             doc * 1000000 + (i - 1) AS pos
      FROM base, unnest(generate_series(1, CAST(ceil(len(t) / 8.0) AS INT))) AS u(i)
    ),
    first AS (
      SELECT md5(tile_text) AS h, min(pos) AS first_pos
      FROM tiles GROUP BY md5(tile_text)
    ),
    j AS (SELECT tiles.*, first_pos FROM tiles
          JOIN first ON first.h = md5(tiles.tile_text))
    SELECT doc,
           COALESCE(string_agg(CASE WHEN pos = first_pos THEN tile_text END,
                      ' ' ORDER BY i), '') AS clean_text,
           count(CASE WHEN pos = first_pos THEN 1 END) AS n_kept,
           count(CASE WHEN pos <> first_pos THEN 1 END) AS n_dropped
    FROM j
    GROUP BY doc
    ORDER BY doc
    """,
    doc="ExactSubstr-style cleaning: each document rebuilt with its "
    "corpus-duplicated 8-token tiles removed (global first-occurrence "
    "keeper). The reassembly sorts only each doc's own tiles inside its "
    "aggregate row — no global sort; text moves exactly once, in the "
    "per-doc collect.",
)
def tile_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = dedup.cross_doc_tile_clean(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", tile=8
    )
    return out.orderBy("doc")


@register(
    "dedup_sparse_cosine",
    oracle="""
    WITH t AS (
      SELECT doc_id AS doc, regexp_split_to_array(lower(text), '\\s+') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc, list_transform(generate_series(1, len(t) - 2),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS grams
      FROM t WHERE len(t) >= 3
    ),
    tf AS (
      SELECT doc, g AS term, count(*) AS tf
      FROM (SELECT doc, unnest(grams) AS g FROM sh) GROUP BY doc, g
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    kept AS (SELECT tf.* FROM tf JOIN dfreq USING (term) WHERE dfreq.df <= 50),
    norms AS (SELECT doc, sqrt(sum(tf * tf)) AS nrm FROM kept GROUP BY doc),
    dots AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, sum(a.tf * b.tf) AS dot
      FROM kept a JOIN kept b ON a.term = b.term AND a.doc < b.doc
      GROUP BY a.doc, b.doc
    )
    SELECT doc_a, doc_b, round(dot / (na.nrm * nb.nrm), 6) AS cos_sim
    FROM dots JOIN norms na ON doc_a = na.doc JOIN norms nb ON doc_b = nb.doc
    WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.4
    """,
    doc="All-pairs sparse cosine over word-trigram term frequencies -- "
    "the WEIGHTED complement of dedup_ngram_jaccard (repetition "
    "structure matters, boilerplate dimensions removed by the df cap "
    "BEFORE the self-join). Posting-list equi-join on the term, "
    "integer dot products, norms attached to the small post-aggregation "
    "pair table rather than riding the explode. One rounded IEEE-exact "
    "division at the end keeps scores bit-identical across engines.",
)
def dedup_sparse_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import sparse_cosine_pairs

    docs = load_table(spark, sf_dir, "documents")
    return sparse_cosine_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.4, max_doc_freq=50
    )


_PF_T = 0.5


@register(
    "dedup_jaccard_prefix",
    oracle=f"""
    WITH t AS (
      SELECT doc_id AS doc, regexp_split_to_array(lower(text), '\\s+') AS t
      FROM documents
    ),
    sets AS (
      SELECT doc,
             list_distinct(list_transform(generate_series(1, len(t) - 2),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      FROM t WHERE len(t) >= 3
    ),
    posting AS (SELECT doc, unnest(sh) AS g FROM sets),
    dfreq AS (SELECT g, count(*) AS df FROM posting GROUP BY g),
    ordered AS (
      SELECT doc,
             list_transform(
               list_sort(list({{'df': df, 'g': g}})), s -> s.g) AS sh,
             count(*) AS n_sh
      FROM posting JOIN dfreq USING (g)
      GROUP BY doc
    ),
    pre AS (
      SELECT doc, n_sh, unnest(
        list_slice(sh, 1, CAST(n_sh - ceil({_PF_T} * n_sh) + 1 AS BIGINT))
      ) AS g
      FROM ordered
    ),
    cand AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM pre a JOIN pre b ON a.g = b.g AND a.doc < b.doc
      WHERE {_PF_T} * b.n_sh <= a.n_sh AND {_PF_T} * a.n_sh <= b.n_sh
    )
    SELECT doc_a, doc_b,
           len(list_intersect(sa.sh, sb.sh)) AS n_common,
           sa.n_sh AS n_a, sb.n_sh AS n_b,
           round(len(list_intersect(sa.sh, sb.sh)) /
                 CAST(sa.n_sh + sb.n_sh - len(list_intersect(sa.sh, sb.sh))
                      AS DOUBLE), 6) AS jaccard
    FROM cand
    JOIN ordered sa ON doc_a = sa.doc
    JOIN ordered sb ON doc_b = sb.doc
    WHERE len(list_intersect(sa.sh, sb.sh)) /
          CAST(sa.n_sh + sb.n_sh - len(list_intersect(sa.sh, sb.sh))
               AS DOUBLE) >= {_PF_T}
    """,
    doc="Exact Jaccard pairs by PREFIX FILTERING (PPJoin / Vernica et "
    "al.): each set explodes only its n - ceil(t*n) + 1 globally "
    "RAREST shingles (completeness: sets with J >= t overlap too much "
    "to avoid sharing a prefix element under any fixed global order), "
    "so the candidate equi-join keys on rare shingles exactly where "
    "the full posting join fans out on common ones. Candidates dedup "
    "BEFORE two doc-keyed joins pull the full sorted arrays in, and "
    "the exact verify is array_intersect in codegen. Same contract as "
    "dedup_ngram_jaccard at the threshold; integer-ratio scores.",
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import jaccard_prefix_pairs

    docs = load_table(spark, sf_dir, "documents")
    return jaccard_prefix_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=_PF_T
    )


@register(
    "dedup_jaccard_auto",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
    common AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(n_common AS DOUBLE) / (x.n_sh + y.n_sh - n_common), 6) AS jaccard
    FROM common JOIN sizes x ON doc_a = x.doc JOIN sizes y ON doc_b = y.doc
    WHERE round(CAST(n_common AS DOUBLE) / (x.n_sh + y.n_sh - n_common), 6) >= 0.5
    """,
    doc="Jaccard pairs with AUTOMATIC regime selection: a one-aggregate "
    "sum(df^2)/sum(df) fan-out probe on the shingle df table dispatches "
    "to the posting join (near-uniform df — this corpus, ~40x cheaper "
    "here) or the PPJoin prefix join (boilerplate-skewed df). Both "
    "branches produce identical integer-ratio-exact scores; the oracle "
    "is the strategy-independent definition of the result.",
)
def dedup_jaccard_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.jaccard_pairs_auto(
        docs, "doc_id", "text", shingle_n=3, threshold=0.5
    )


_NEARDUP_SIG_CTES = f"""
    {_SHINGLES_CTE},
    h AS (SELECT doc, md5('a:' || sh) AS h0, md5('b:' || sh) AS h1 FROM sh),
    sig AS (
      SELECT doc,
             min(substr(h0, 1, 8))  AS m0, min(substr(h0, 9, 8))  AS m1,
             min(substr(h0, 17, 8)) AS m2, min(substr(h0, 25, 8)) AS m3,
             min(substr(h1, 1, 8))  AS m4, min(substr(h1, 9, 8))  AS m5,
             min(substr(h1, 17, 8)) AS m6, min(substr(h1, 25, 8)) AS m7
      FROM h GROUP BY doc
    ),
    bands AS (
      SELECT doc, 0 AS band, m0 || '|' || m1 AS band_sig FROM sig UNION ALL
      SELECT doc, 1, m2 || '|' || m3 FROM sig UNION ALL
      SELECT doc, 2, m4 || '|' || m5 FROM sig UNION ALL
      SELECT doc, 3, m6 || '|' || m7 FROM sig
    )
"""


@register(
    "streaming_neardup_replay",
    oracle=f"""
    WITH {_NEARDUP_SIG_CTES},
    b0 AS (SELECT * FROM bands WHERE doc % 3 = 0),
    min0 AS (SELECT band, band_sig, min(doc) AS m FROM b0 GROUP BY 1, 2),
    drop0 AS (SELECT DISTINCT b.doc FROM b0 b
              JOIN min0 m ON b.band = m.band AND b.band_sig = m.band_sig
              WHERE b.doc > m.m),
    acc0 AS (SELECT * FROM b0 WHERE doc NOT IN (SELECT doc FROM drop0)),
    b1 AS (SELECT * FROM bands WHERE doc % 3 = 1),
    hit1 AS (SELECT DISTINCT b.doc FROM b1 b
             JOIN acc0 s ON b.band = s.band AND b.band_sig = s.band_sig),
    b1f AS (SELECT * FROM b1 WHERE doc NOT IN (SELECT doc FROM hit1)),
    min1 AS (SELECT band, band_sig, min(doc) AS m FROM b1f GROUP BY 1, 2),
    drop1 AS (SELECT DISTINCT b.doc FROM b1f b
              JOIN min1 m ON b.band = m.band AND b.band_sig = m.band_sig
              WHERE b.doc > m.m),
    acc1 AS (SELECT * FROM b1f WHERE doc NOT IN (SELECT doc FROM drop1)),
    b2 AS (SELECT * FROM bands WHERE doc % 3 = 2),
    store2 AS (SELECT * FROM acc0 UNION ALL SELECT * FROM acc1),
    hit2 AS (SELECT DISTINCT b.doc FROM b2 b
             JOIN store2 s ON b.band = s.band AND b.band_sig = s.band_sig),
    b2f AS (SELECT * FROM b2 WHERE doc NOT IN (SELECT doc FROM hit2)),
    min2 AS (SELECT band, band_sig, min(doc) AS m FROM b2f GROUP BY 1, 2),
    drop2 AS (SELECT DISTINCT b.doc FROM b2f b
              JOIN min2 m ON b.band = m.band AND b.band_sig = m.band_sig
              WHERE b.doc > m.m),
    acc2 AS (SELECT * FROM b2f WHERE doc NOT IN (SELECT doc FROM drop2))
    SELECT 0 AS ingest_batch, doc AS doc_id FROM (SELECT DISTINCT doc FROM acc0)
    UNION ALL
    SELECT 1, doc FROM (SELECT DISTINCT doc FROM acc1)
    UNION ALL
    SELECT 2, doc FROM (SELECT DISTINCT doc FROM acc2)
    """,
    doc="The streaming near-dup ingest gate (streaming/neardup.py) as a "
    "deterministic batch replay (VERDICT r5 #8): the documents corpus "
    "arrives as three micro-batches (doc_id % 3, processed 0->1->2); "
    "each batch rejects docs whose MinHash band bucket collides with "
    "ACCEPTED history (broadcast probe, history never shuffles), then "
    "resolves within-batch collisions per bucket to the minimum doc id, "
    "and appends survivors under ingest_batch=<id> (replay-idempotent "
    "overwrite). The oracle unrolls the same three-stage gate in SQL "
    "over the identical chunked-md5 signature algebra as "
    "dedup_minhash_lsh — the full accepted corpus is hash-graded.",
)
def streaming_neardup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.sql import functions as F

    from ..streaming.neardup import ingest_batch, read_accepted

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="e2a_neardup_replay_")
    store, out = f"{root}/store", f"{root}/out"
    accepted = 0
    for b in range(3):
        accepted += ingest_batch(
            docs.filter(F.col("doc_id") % 3 == b), b, store, out
        )
    if accepted == 0:
        # zero-row robustness: an all-empty stream never creates the
        # sink directory — the accepted corpus is the empty frame
        return spark.createDataFrame([], "ingest_batch int, doc_id long")
    return read_accepted(spark, out).select(
        F.col("ingest_batch").cast("int").alias("ingest_batch"), "doc_id"
    )


_HEXD = "0123456789abcdef"


@register(
    "leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
    common AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM common JOIN sizes x ON doc_a = x.doc JOIN sizes y ON doc_b = y.doc
      WHERE round(CAST(n_common AS DOUBLE) / (x.n_sh + y.n_sh - n_common), 6) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    root AS (SELECT u AS node, least(min(v), u) AS root FROM reach GROUP BY u),
    lab AS (
      SELECT d.doc_id, coalesce(r.root, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN root r ON d.doc_id = r.node
    ),
    bk AS (
      SELECT doc_id, cluster_id,
             (instr('{_HEXD}', h[1]) - 1) * 4096 + (instr('{_HEXD}', h[2]) - 1) * 256 +
             (instr('{_HEXD}', h[3]) - 1) * 16   + (instr('{_HEXD}', h[4]) - 1) AS bucket
      FROM (SELECT doc_id, cluster_id,
                   md5('split:' || CAST(cluster_id AS VARCHAR)) AS h FROM lab)
    )
    SELECT doc_id, cluster_id,
           CASE WHEN bucket < 52428 THEN 'train'
                WHEN bucket < 58982 THEN 'val'
                ELSE 'test' END AS split
    FROM bk
    """,
    doc="LEAKAGE-SAFE train/val/test split: the 80/10/10 hash-split "
    "keyed on the near-dup CLUSTER id instead of the doc id, so every "
    "member of a near-duplicate cluster lands in the SAME split — the "
    "contamination a naive per-doc split silently creates (train/eval "
    "siblings that are near-copies) is impossible by construction. "
    "Composition of two graded operators: Jaccard>=0.5 pairs -> "
    "O(log n)-round connected components (never a driver union-find) "
    "-> narrow-map md5 bucket of the cluster label. Stable under "
    "corpus growth for untouched clusters (same label -> same split); "
    "a newly-merged cluster adopts one side's assignment rather than "
    "straddling.",
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.5
    )
    comp = dedup.connected_components(pairs, release_input=True)
    lab = docs.select("doc_id").join(
        comp, docs.doc_id == comp.node, "left"
    ).select("doc_id", F.coalesce("component", "doc_id").alias("cluster_id"))
    return sampling.hash_split(
        lab, "cluster_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "cluster_id", "split")


@register(
    "dedup_threshold_calibration",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
    common AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT round(CAST(n_common AS DOUBLE) / (x.n_sh + y.n_sh - n_common), 6) AS j
      FROM common JOIN sizes x ON doc_a = x.doc JOIN sizes y ON doc_b = y.doc
    )
    SELECT CAST(least(floor(j * 10), 9) / 10 AS DOUBLE) AS bin_lo,
           count(*) AS n_pairs
    FROM jac WHERE j >= 0.3
    GROUP BY 1
    """,
    doc="Dedup THRESHOLD CALIBRATION curve: the jaccard histogram over "
    "candidate pairs (0.1-wide bins from 0.3 up; exact dups fold into "
    "the 0.9 bin) — the distribution a curator reads BEFORE picking "
    "the dedup threshold, instead of cargo-culting 0.8. One extra "
    "aggregate over the same bounded pair stream the graded dedup "
    "operators produce (shingle equi-join, df-cap guard available); "
    "output is |bins| rows at any corpus size.",
)
def dedup_threshold_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.3
    )
    return (
        pairs.select(
            (F.least(F.floor(F.col("jaccard") * 10), F.lit(9)) / 10)
            .cast("double")
            .alias("bin_lo")
        )
        .groupBy("bin_lo")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
