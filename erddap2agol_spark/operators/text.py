"""Text-analysis operators for corpus curation: token counting, quality
scoring, language ID, and document fingerprinting.

All pure Column algebra over ``split``/``filter``/``aggregate`` — each
document is scored independently, so these map-parallelize perfectly and
never shuffle (the scan partitioning is the output partitioning).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..plans.parallelism import ensure_parallelism

#: Tiny per-language stopword marker lists for the n-gram/stopword
#: language-ID heuristic. Ordered: first match priority on ties.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "nicht", "ist"),
    "fr": ("le", "la", "les", "et", "est", "une"),
    "es": ("el", "los", "las", "es", "una", "y"),
    "zh": ("de5", "shi4", "le5", "zai4"),  # pinyin-ish markers
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")


def tokens(col: Column) -> Column:
    return F.split(F.lower(col), r"\s+")


def token_count(col: Column) -> Column:
    """Whitespace token count (BPE-ish subword estimate ≈ chars/4 is the
    companion heuristic — see ``token_estimate``)."""
    return F.size(tokens(col))


def token_estimate(col: Column) -> Column:
    """BPE-ish token-count estimate: ceil(chars / 4) — the standard
    rule-of-thumb for byte-pair-encoded subwords."""
    return F.ceil(F.length(col) / 4).cast("bigint")


def _count_in(toks: Column, words: tuple[str, ...]) -> Column:
    wordset = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(wordset, t)))


def stopword_ratio(col: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    toks = tokens(col)
    return F.round(_count_in(toks, stopwords) / F.greatest(F.size(toks), F.lit(1)), 6)


def avg_word_len(col: Column) -> Column:
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.round(total / F.greatest(F.size(toks), F.lit(1)), 6)


def quality_score(col: Column) -> Column:
    """Composite quality heuristic in [0,1]: penalize extreme length,
    missing stopwords, and very short/long average word length — the
    classic cheap pre-filters for LLM training corpora."""
    n = token_count(col)
    len_ok = F.when((n >= 5) & (n <= 10000), F.lit(0.4)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio(col) >= 0.05, F.lit(0.3)).otherwise(F.lit(0.0))
    awl = avg_word_len(col)
    awl_ok = F.when((awl >= 2.5) & (awl <= 10), F.lit(0.3)).otherwise(F.lit(0.0))
    return F.round(len_ok + stop_ok + awl_ok, 2)


def char_entropy(col: Column) -> Column:
    """Per-document unigram CHARACTER entropy in bits — the exact form
    of the classic corpus-quality signal (natural prose sits ~3.8-4.8
    bits/char; repetition collapses it, random bytes push it up; the
    compression-ratio filters of Gopher-class pipelines approximate
    exactly this quantity).

    Entirely map-side Column algebra — NO shuffle, NO Python: per row,
    fold over the SORTED distinct characters (sorting pins cross-engine
    summation order) counting occurrences with an array filter. Distinct
    chars are bounded (~100 for text), so the per-row work is
    O(distinct * len) inside whole-stage codegen. NULL text stays NULL
    (relational semantics, matching the SQL oracle); EMPTY text is 0.0
    by convention. Rounded to 6dp for cross-engine stability.
    """
    chars = F.filter(F.split(col, ""), lambda c: c != F.lit(""))
    n = F.size(chars).cast("double")
    ds = F.array_sort(F.array_distinct(chars))
    counts = F.transform(
        ds, lambda c: F.size(F.filter(chars, lambda x: x == c)).cast("double")
    )
    ent = F.aggregate(
        counts,
        F.lit(0.0),
        lambda acc, k: acc - (k / n) * F.log2(k / n),
    )
    return F.round(
        F.when(col.isNull(), F.lit(None).cast("double"))
        .when(n > 0, ent)
        .otherwise(F.lit(0.0)),
        6,
    )


def lang_id(col: Column) -> Column:
    """Stopword-marker language ID: argmax of per-language marker hits,
    first-listed language wins ties, 'und' when nothing matches."""
    toks = tokens(col)
    scores = [(lang, _count_in(toks, words)) for lang, words in LANG_MARKERS.items()]
    best = F.greatest(*[s for _, s in scores])
    expr = F.lit("und")
    # build reversed so earlier languages take priority on ties
    for lang, s in reversed(scores):
        expr = F.when((s == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def chunk_documents(
    df,
    id_col: str,
    text_col: str,
    max_tokens: int = 32,
    overlap: int = 8,
):
    """Split documents into overlapping token-bounded chunks — the
    training-data windowing op (context-length packing). Pure array
    algebra: token array -> start-index sequence -> explode -> slice.
    One output row per chunk; no shuffle (map-side explode only).
    """
    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    step = max_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n - overlap, F.lit(1)), F.lit(step))
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            toks.alias("__toks"),
            F.posexplode(starts).alias("chunk_idx", "start"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(F.col("__toks"), F.col("start"), max_tokens)).alias(
                "chunk_text"
            ),
            F.least(
                F.size(F.col("__toks")) - F.col("start") + 1, F.lit(max_tokens)
            ).cast("int").alias("n_chunk_tokens"),
        )
    )


def tfidf_features(df, id_col: str, text_col: str, n_features: int = 1 << 12):
    """TF-IDF feature vectors via pyspark.ml (HashingTF + IDF) — the
    SURVEY §7.2 text-analysis scale path: hashing keeps the vocabulary
    unbounded-safe (no global dictionary to build), IDF is one small
    aggregate broadcast back. Returns (id, features ml-vector)."""
    from pyspark.ml.feature import IDF, HashingTF, Tokenizer

    tok = Tokenizer(inputCol=text_col, outputCol="__words")
    tf = HashingTF(inputCol="__words", outputCol="__tf", numFeatures=n_features)
    words = tok.transform(df.select(F.col(id_col).alias("id"), F.col(text_col)))
    tfed = tf.transform(words)
    idf = IDF(inputCol="__tf", outputCol="features").fit(tfed)
    return idf.transform(tfed).select("id", "features")


def word_ngrams(col: Column, n: int) -> Column:
    """Adjacent word n-grams as space-joined strings (len-n+1 per doc,
    empty array when the doc is shorter than n words). Pure array algebra
    — evaluated inside whole-stage codegen, no shuffle."""
    t = tokens(col)
    cnt = F.size(t)
    # arrays_zip of n SLICES, not transform + per-gram slice: one walk
    # over the token array instead of a fresh n-element array per gram
    # (measured ~1.6x on the explode stage at sf0.1; same pattern as
    # dedup.word_shingles, review r8).  The slice length clamps at 0 so
    # the expression is safe for sub-n-token docs.
    klen = F.greatest(cnt - (n - 1), F.lit(0))
    zipped = F.arrays_zip(
        *[F.slice(t, j + 1, klen).alias(f"w{j}") for j in range(n)]
    )
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[f"w{j}"] for j in range(n)])
    )
    return F.when(cnt >= n, grams).otherwise(F.array().cast("array<string>"))


def repetition_profile(df, id_col: str, text_col: str):
    """Gopher-style intra-document repetition metrics: the fraction of
    duplicate word occurrences and the share of the most frequent bigram
    — the standard cheap filters for boilerplate/spam in an LLM corpus
    (Rae et al. 2021, public).

    Scale shape: ``dup_word_frac`` is computed map-side from the token
    array; the bigram mode needs a per-(doc, bigram) count, done as
    explode -> two keyed aggregations. Both shuffles key on doc_id (+
    bigram), so partial map-side aggregation applies and no key is hotter
    than the longest single document.
    """
    c = F.col(text_col)
    t = tokens(c)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(t).alias("n_tokens"),
        F.round(F.lit(1) - F.size(F.array_distinct(t)) / F.size(t), 6).alias(
            "dup_word_frac"
        ),
        F.explode_outer(word_ngrams(c, 2)).alias("bigram"),
    )
    per_bigram = base.groupBy("doc_id", "n_tokens", "dup_word_frac", "bigram").agg(
        F.count(F.col("bigram")).alias("cnt")
    )
    return per_bigram.groupBy("doc_id", "n_tokens", "dup_word_frac").agg(
        F.round(
            F.when(
                F.col("n_tokens") >= 2, F.max("cnt") / (F.col("n_tokens") - 1)
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("top_bigram_frac")
    )


def contamination_counts(docs, bench_sources: tuple[str, ...], n: int = 5):
    """Benchmark-contamination check: for every non-benchmark document,
    how many of its distinct word n-grams appear anywhere in the
    benchmark slice (the n-gram-overlap decontamination rule used for
    LLM training corpora, e.g. GPT-3 appendix C / PaLM — public).

    Scale shape: the benchmark n-gram set is DISTINCT'd then broadcast
    (eval sets are tiny next to a 100 TB corpus), so the corpus side is
    a map-only probe — no shuffle of corpus n-grams; the only shuffle is
    the per-doc count keyed on doc_id with map-side combine. At larger
    benchmark sizes hash n-grams (md5) before the join so the broadcast
    carries 16-byte keys, not strings.
    """
    grams = ensure_parallelism(docs).select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(word_ngrams(F.col("text"), n))).alias("g"),
    )
    bench = (
        grams.filter(F.col("source").isin(*bench_sources))
        .select("g")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = grams.filter(~F.col("source").isin(*bench_sources))
    joined = corpus.join(F.broadcast(bench), "g", "left").select("doc_id", "hit")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_ngrams"),
        F.count("hit").alias("n_contaminated"),
    ).select(
        "doc_id",
        "n_ngrams",
        "n_contaminated",
        F.round(F.col("n_contaminated") / F.col("n_ngrams"), 6).alias(
            "contamination_frac"
        ),
        (F.col("n_contaminated") > 0).alias("flagged"),
    )


def duplicate_spans(
    docs,
    id_col: str,
    text_col: str,
    span_tokens: int = 20,
    min_occurrences: int = 2,
):
    """Exact substring-level dedup: every ``span_tokens``-word window of
    every document is hashed, and spans occurring >= ``min_occurrences``
    times corpus-wide are reported (the repeated-substring removal rule
    of Lee et al. 2021, "Deduplicating Training Data...", public — the
    suffix-array pass re-expressed as a windowed hash aggregate).

    Scale shape: the explode is map-side (~n_tokens rows per doc, each a
    16-byte md5 + ids, never the text); the single shuffle keys on the
    span hash — uniform by construction — with map-side partial counts.
    The report joins back against doc ids only, so removal is a keyed
    semi-join away.
    """
    c = F.col(text_col)
    spans = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(word_ngrams(c, span_tokens)).alias("pos0", "span"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.md5(F.col("span")).alias("span_hash"),
    )
    return (
        spans.groupBy("span_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("example_doc"),
        )
        .filter(F.col("n_occurrences") >= min_occurrences)
    )


#: (rule name, regex, mask) triples applied IN ORDER — each rule counts
#: and replaces matches in the text as redacted by the previous rules, so
#: a digit already masked by an earlier rule can't double-count. Patterns
#: stay inside the Java-regex ∩ RE2 common subset so the same strings run
#: verbatim on Spark and on the DuckDB oracle side.
DEFAULT_REDACTION_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}[-.]\d{4}\b", "<PHONE>"),
)


def redact_text(
    df,
    text_col: str,
    rules: tuple[tuple[str, str, str], ...] = DEFAULT_REDACTION_RULES,
    out_col: str = "redacted",
):
    """PII/pattern redaction — the privacy-scrubbing pass of a training-
    data pipeline: mask every rule match and report per-rule match counts
    alongside the scrubbed text.

    Pure per-row expression work (``regexp_extract_all`` +
    ``regexp_replace`` chains inside whole-stage codegen): map-parallel,
    no shuffle, no Python. Adds one ``n_<rule>`` count column per rule
    plus ``out_col`` with all rules applied.
    """
    cur = F.col(text_col)
    counts = []
    for name, pat, mask in rules:
        counts.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0))).alias(f"n_{name}")
        )
        cur = F.regexp_replace(cur, pat, mask)
    return df.select("*", *counts, cur.alias(out_col))


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 over normalized text
    (lowercased, whitespace-collapsed) — the rolling-hash analog used for
    cross-run change detection (ST3/ST4)."""
    return F.md5(F.concat_ws(" ", tokens(col)))


def _bloom_pos20(g, salt: str):
    """20-bit bloom bit position: first 5 md5 hex nibbles of the salted
    key (m = 2^20 bits; DuckDB mirrors the nibble arithmetic exactly)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + ":"), g)), 1, 5), 16, 10
    ).cast("long")


def bloom_contamination(docs, bench_sources: tuple[str, ...], n: int = 5):
    """Benchmark decontamination through a Bloom filter — the shape that
    survives benchmark sets too big to broadcast as raw n-grams.

    Two md5-derived hash functions set bits in a 2^20-bit filter stored
    as 32-bit words: the ENTIRE filter is <= 32768 (word, bits) rows
    (~4 MB even when dense) no matter how many benchmark n-grams went
    in, so the corpus-side probe is two broadcast joins on the word
    index — a map-only pass over 100 TB with zero shuffle of corpus
    n-grams. One-sided error by construction: every truly contaminated
    n-gram is flagged (no false negatives — the guarantee decontam
    needs); false positives only inflate the flag rate, and are
    filter-sized away (m scales with the benchmark, never the corpus).
    Per-doc flag counts keyed on doc_id with map-side combine, exactly
    like :func:`contamination_counts`, which remains the exact
    verifier for flagged docs.
    """
    grams = ensure_parallelism(docs).select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(word_ngrams(F.col("text"), n))).alias("g"),
    )
    bench = (
        grams.filter(F.col("source").isin(*bench_sources)).select("g").distinct()
    )
    bpos = bench.select(
        F.explode(
            F.array(_bloom_pos20(F.col("g"), "b0"), _bloom_pos20(F.col("g"), "b1"))
        ).alias("pos")
    )
    bloom = (
        bpos.select(
            F.shiftright("pos", 5).alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("w")
        .agg(F.bit_or("mask").alias("bits"))
    )
    corpus = grams.filter(~F.col("source").isin(*bench_sources)).select(
        "doc_id",
        "g",
        _bloom_pos20(F.col("g"), "b0").alias("p0"),
        _bloom_pos20(F.col("g"), "b1").alias("p1"),
    )
    b0 = bloom.select(F.col("w").alias("w0"), F.col("bits").alias("bits0"))
    b1 = bloom.select(F.col("w").alias("w1"), F.col("bits").alias("bits1"))
    probed = (
        corpus.join(F.broadcast(b0), F.shiftright("p0", 5) == F.col("w0"), "left")
        .join(F.broadcast(b1), F.shiftright("p1", 5) == F.col("w1"), "left")
        .select(
            "doc_id",
            F.when(
                F.col("bits0").isNotNull()
                & F.col("bits1").isNotNull()
                # (x >> k) & 1 reads bit k regardless of sign fill, so
                # arithmetic shiftright is safe even for bit 31+ words
                & (F.expr("shiftright(bits0, CAST(p0 % 32 AS INT)) & 1") == 1)
                & (F.expr("shiftright(bits1, CAST(p1 % 32 AS INT)) & 1") == 1),
                1,
            )
            .otherwise(0)
            .alias("hit"),
        )
    )
    return probed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_ngrams"),
        F.sum("hit").alias("n_maybe_contaminated"),
    ).select(
        "doc_id",
        "n_ngrams",
        "n_maybe_contaminated",
        F.round(F.col("n_maybe_contaminated") / F.col("n_ngrams"), 6).alias(
            "bloom_frac"
        ),
    )


def hashed_feature_weight(tok: Column, salt: str = "qw") -> Column:
    """Deterministic per-feature weight in [-1, 1): the first 8 hex
    digits of md5(salt:token) scaled from [0, 2^32) — the same
    engine-portable coin as the JL sign matrix (similarity._jl_sign),
    widened from a sign to a uniform weight.  No weight table exists
    anywhere: the 'model' is the hash, so scoring is a pure map."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{salt}:"), tok)), 1, 8), 16, 10)
        .cast("double")
        / F.lit(2147483648.0)
        - 1.0
    )


def linear_classifier_score(
    df,
    text_col: str,
    out_col: str = "clf_score",
    salt: str = "qw",
    round_to: int = 6,
):
    """fastText-shaped linear text scorer (Joulin et al. 2016 shape):
    unigram + bigram hashed features, a weight per feature, score =
    mean feature weight.  Here the weight vector is DETERMINISTIC
    (md5-derived — a stand-in for trained weights with identical plan
    shape): swap :func:`hashed_feature_weight` for a broadcast lookup
    of trained weights and nothing else changes.

    Scale shape: pure narrow map in whole-stage codegen — zero shuffle,
    zero state, linear in corpus bytes; the mean is a LEFT-TO-RIGHT
    fold over (unigrams then bigrams) in document order, so the float
    result is engine-portable under the 6dp round."""
    toks = tokens(F.lower(F.col(text_col)))
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit("_"), b),
    )
    feats = F.concat(toks, F.when(n >= 2, bigrams).otherwise(F.array()))
    score = F.aggregate(
        feats,
        F.lit(0.0),
        lambda acc, t: acc + hashed_feature_weight(t, salt),
    ) / F.size(feats)
    return df.withColumn(
        out_col,
        F.when(n > 0, F.round(score, round_to)),
    )


def segment_array(col: Column, seg_tokens: int) -> Column:
    """Non-overlapping ``seg_tokens``-token segments of a document as an
    array of space-joined strings (the last segment may be short).  The
    flat-token analog of "lines": the unit of corpus-wide boilerplate
    removal.  Pure array algebra — codegen, no shuffle, no explode."""
    t = tokens(col)
    n_seg = F.ceil(F.size(t) / F.lit(seg_tokens)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.concat_ws(" ", F.slice(t, i * seg_tokens + 1, seg_tokens)),
    )
    # sequence(0, -1) would step DOWNWARD ([0, -1]) — guard the
    # empty-doc case explicitly.
    return F.when(n_seg > 0, segs).otherwise(F.array().cast("array<string>"))


def boilerplate_hot_segments(docs, id_col: str, text_col: str,
                             seg_tokens: int = 3, max_df: int = 3):
    """The corpus-wide boilerplate set: segments appearing in more than
    ``max_df`` DISTINCT documents (CCNet/RefinedWeb line-dedup rule,
    Wenzek et al. 2020 / Penedo et al. 2023 — public).  Returns
    (seg, df) rows.

    Scale shape: distinct-within-doc happens map-side on the segment
    ARRAY (``array_distinct`` before the explode), so the one shuffle —
    groupBy(seg) with map-side partial counts — carries each document's
    distinct segments once and ``count(*)`` IS the distinct-doc count;
    no count-distinct state. Hot-set size is bounded by
    total_distinct_segment_occurrences / max_df.
    """
    segs = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(segment_array(F.col(text_col), seg_tokens))).alias("seg"),
    )
    return (
        segs.groupBy("seg")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
    )


def boilerplate_removal(docs, id_col: str, text_col: str,
                        seg_tokens: int = 3, max_df: int = 3):
    """Corpus-wide boilerplate-segment removal: drop every segment that
    appears in more than ``max_df`` distinct documents and reassemble
    each document from its surviving segments in order (the CCNet-style
    "drop duplicated lines" pass LLM pipelines run before training;
    the reference engine has no analog — this is LLM-pipeline surface).

    Returns (doc_id, n_segments, n_removed, removed_frac, clean_text).
    A NULL text yields an empty segment array: the doc is RETAINED with
    n_segments=0, removed_frac null, clean_text '' (the cleaning pass
    must never silently drop documents).

    Scale shape — NO reassembly shuffle: documents keep their segment
    ARRAY (never exploded on the rebuild path), the hot set aggregates
    to a single-row array and broadcasts via crossJoin, and the clean
    text is an in-row ``filter`` + ``array_join``.  The only corpus
    shuffle is the hot-set doc-frequency aggregate.  The broadcast is
    bounded by corpus_segments / max_df; if a corpus pushes that past
    executor memory, raise max_df or swap the membership probe for the
    explode → anti-join → groupBy(doc_id) rebuild (one extra shuffle,
    unbounded hot set).
    """
    hot = boilerplate_hot_segments(docs, id_col, text_col, seg_tokens, max_df)
    hot_arr = hot.agg(F.collect_list("seg").alias("__hot"))
    seg_col = segment_array(F.col(text_col), seg_tokens)
    base = docs.select(F.col(id_col).alias("doc_id"), seg_col.alias("__segs"))
    kept = F.filter(
        F.col("__segs"), lambda s: ~F.array_contains(F.col("__hot"), s)
    )
    n_seg = F.size(F.col("__segs"))
    n_removed = n_seg - F.size(kept)
    return base.crossJoin(F.broadcast(hot_arr)).select(
        "doc_id",
        n_seg.cast("bigint").alias("n_segments"),
        n_removed.cast("bigint").alias("n_removed"),
        # try_divide: a NULL-text doc has n_seg=0 and must yield NULL,
        # not an ANSI DIVIDE_BY_ZERO that kills the whole corpus job
        F.round(F.try_divide(n_removed, n_seg), 6).alias("removed_frac"),
        F.array_join(kept, " ").alias("clean_text"),
    )
