"""Text-analysis queries over the ``documents`` table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import text as T
from ..plans.parallelism import ensure_parallelism
from ..sources.tables import load_table
from . import register


@register(
    "text_tokens",
    oracle="""
    SELECT doc_id,
           len(regexp_split_to_array(lower(text), '\\s+')) AS n_tokens,
           CAST(ceil(length(text) / 4) AS BIGINT) AS est_bpe_tokens,
           length(text) AS n_chars_actual
    FROM documents
    """,
    doc="Token counting: whitespace tokens + BPE-ish chars/4 estimate.",
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        T.token_count(c).alias("n_tokens"),
        T.token_estimate(c).alias("est_bpe_tokens"),
        F.length(c).alias("n_chars_actual"),
    )


@register(
    "text_quality",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t, text FROM documents
    ),
    m AS (
      SELECT doc_id,
        round(list_sum(list_transform(t, w -> length(w)))
              / greatest(len(t), 1), 6) AS avg_word_len,
        round(CAST(len(list_filter(t, w -> list_contains(
                ['the','a','of','and','to','in','is','it','for','on'], w))) AS DOUBLE)
              / greatest(len(t), 1), 6) AS stop_ratio,
        len(t) AS n
      FROM toks
    )
    SELECT doc_id, avg_word_len, stop_ratio AS stopword_ratio,
           round(CAST((CASE WHEN n BETWEEN 5 AND 10000 THEN 0.4 ELSE 0.0 END)
               + (CASE WHEN stop_ratio >= 0.05 THEN 0.3 ELSE 0.0 END)
               + (CASE WHEN avg_word_len BETWEEN 2.5 AND 10 THEN 0.3 ELSE 0.0 END)
               AS DOUBLE), 2) AS quality
    FROM m
    """,
    doc="Quality scoring: length/stopword/word-shape heuristics in [0,1] "
    "— the cheap pre-filters of an LLM-corpus pipeline.",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        T.avg_word_len(c).alias("avg_word_len"),
        T.stopword_ratio(c).alias("stopword_ratio"),
        T.quality_score(c).alias("quality"),
    )


def _dd_hits(words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return (
        "len(list_filter(regexp_split_to_array(lower(text), '\\s+'), "
        f"w -> list_contains([{lst}], w)))"
    )


_LANG_CASES = " ".join(
    f"WHEN {_dd_hits(words)} = best AND best > 0 THEN '{lang}'"
    for lang, words in T.LANG_MARKERS.items()
)
_BEST = "greatest(" + ", ".join(_dd_hits(w) for w in T.LANG_MARKERS.values()) + ")"


@register(
    "text_langid",
    oracle=f"""
    SELECT doc_id,
           CASE {_LANG_CASES.replace('best', _BEST)} ELSE 'und' END AS pred_lang
    FROM documents
    """,
    doc="Stopword-marker language ID: argmax of per-language marker hits "
    "(first language wins ties, 'und' when nothing matches).",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.lang_id(F.col("text")).alias("pred_lang"))


@register(
    "pii_redaction",
    oracle="""
    WITH synth AS (
      SELECT doc_id,
             substring(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
             || '@example.org'
             || CASE WHEN doc_id % 2 = 0
                     THEN ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.0.' || CAST(doc_id % 100 AS VARCHAR)
                     ELSE '' END
             || CASE WHEN doc_id % 3 = 0
                     THEN ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END AS text
      FROM documents
    ),
    s1 AS (
      SELECT doc_id,
             len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
             regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g') AS t
      FROM synth
    ),
    s2 AS (
      SELECT doc_id, n_email,
             len(regexp_extract_all(t,
                 '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ipv4,
             regexp_replace(t,
                 '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                 '<IP>', 'g') AS t
      FROM s1
    ),
    s3 AS (
      SELECT doc_id, n_email, n_ipv4,
             len(regexp_extract_all(t, '\\b\\d{3}[-.]\\d{4}\\b')) AS n_phone,
             regexp_replace(t, '\\b\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g') AS t
      FROM s2
    )
    SELECT doc_id, n_email, n_ipv4, n_phone, md5(t) AS redacted_md5 FROM s3
    """,
    doc="PII redaction (privacy scrubbing): emails, IPv4s, and phone "
    "numbers are synthesized deterministically onto each document, then "
    "masked by the ordered rule chain with per-rule match counts. Pure "
    "regexp expression work inside codegen — map-parallel, no shuffle; "
    "the regex subset runs verbatim on both engines.",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    synth = docs.select(
        "doc_id",
        F.concat(
            F.substring(F.col("text"), 1, 40),
            F.lit(" contact user"),
            d.cast("string"),
            F.lit("@example.org"),
            F.when(
                d % 2 == 0,
                F.concat(
                    F.lit(" ip 10."),
                    (d % 256).cast("string"),
                    F.lit(".0."),
                    (d % 100).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                d % 3 == 0,
                F.concat(
                    F.lit(" tel 555-"),
                    F.lpad((d % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    red = T.redact_text(synth, "text")
    return red.select(
        "doc_id", "n_email", "n_ipv4", "n_phone",
        F.md5(F.col("redacted")).alias("redacted_md5"),
    )


@register(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(regexp_split_to_array(lower(text), '\\s+'), ' '))
             AS fingerprint
    FROM documents
    """,
    doc="Document fingerprinting over normalized text (ST3/ST4 "
    "change-detection analog).",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.fingerprint(F.col("text")).alias("fingerprint"))


@register(
    "doc_chunking",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t FROM documents
    ),
    starts AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t) - 8, 1), 24)) AS start,
             generate_subscripts(generate_series(1, greatest(len(t) - 8, 1), 24), 1) AS pos
      FROM toks
    )
    SELECT doc_id, CAST(pos - 1 AS INTEGER) AS chunk_idx,
           array_to_string(t[start:start+31], ' ') AS chunk_text,
           CAST(least(len(t) - start + 1, 32) AS INTEGER) AS n_chunk_tokens
    FROM starts
    """,
    doc="Context-length packing: overlapping 32-token chunks with 8-token "
    "overlap — one explode, no shuffle; the training-data windowing op.",
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.chunk_documents(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        max_tokens=32, overlap=8,
    )


@register(
    "doc_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t FROM documents
    ),
    base AS (
      SELECT doc_id, len(t) AS n_tokens,
             round(1 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
               AS dup_word_frac,
             t
      FROM toks
    ),
    bg AS (
      SELECT doc_id, n_tokens, dup_word_frac,
             unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                                   i -> t[i] || ' ' || t[i + 1])) AS bigram
      FROM base
    ),
    per_bg AS (
      SELECT doc_id, n_tokens, dup_word_frac, bigram, count(*) AS cnt
      FROM bg GROUP BY doc_id, n_tokens, dup_word_frac, bigram
    )
    SELECT doc_id, n_tokens, dup_word_frac,
           round(CAST(max(cnt) AS DOUBLE) / (n_tokens - 1), 6) AS top_bigram_frac
    FROM per_bg GROUP BY doc_id, n_tokens, dup_word_frac
    """,
    doc="Gopher-style intra-document repetition: duplicate-word fraction "
    "and most-frequent-bigram share — the boilerplate/spam pre-filters of "
    "an LLM corpus pipeline.",
)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.repetition_profile(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "contamination_check",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, regexp_split_to_array(lower(text), '\\s+') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(
                 generate_series(1, greatest(len(t) - 4, 0)),
                 i -> array_to_string(t[i:i+4], ' ')))) AS g
      FROM toks
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE source IN ('src0', 'src1')),
    corpus AS (SELECT doc_id, g FROM grams WHERE source NOT IN ('src0', 'src1'))
    SELECT c.doc_id, count(*) AS n_ngrams, count(b.g) AS n_contaminated,
           round(CAST(count(b.g) AS DOUBLE) / count(*), 6) AS contamination_frac,
           count(b.g) > 0 AS flagged
    FROM corpus c LEFT JOIN bench b USING (g)
    GROUP BY c.doc_id
    """,
    doc="Benchmark decontamination: per-document distinct-5-gram overlap "
    "against a benchmark slice (sources src0/src1 stand in for the eval "
    "set). Benchmark grams broadcast; corpus side is a map-only probe.",
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.contamination_counts(
        load_table(spark, sf_dir, "documents"), bench_sources=("src0", "src1"), n=5
    )


@register(
    "duplicate_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
      FROM documents
    ),
    spans AS (
      SELECT doc_id, md5(array_to_string(t[i:i+19], ' ')) AS span_hash
      FROM (SELECT doc_id, t,
                   unnest(generate_series(1, greatest(len(t) - 19, 0))) AS i
            FROM toks)
    )
    SELECT span_hash, count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS n_docs, min(doc_id) AS example_doc
    FROM spans GROUP BY span_hash HAVING count(*) >= 2
    """,
    doc="Substring-level exact dedup (Lee et al. 2021): hash every "
    "20-token window, report spans repeated corpus-wide. One uniform "
    "md5-keyed shuffle of (hash, ids) rows — text never crosses the "
    "wire; removal is a keyed semi-join on the report.",
)
def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.duplicate_spans(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        span_tokens=20, min_occurrences=2,
    )


@register(
    "span_dedup_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
      FROM documents
    ),
    spans AS (
      SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+19], ' ')) AS h
      FROM (SELECT doc_id, t,
                   unnest(generate_series(1, greatest(len(t) - 19, 0))) AS i
            FROM toks)
    ),
    ranked AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk,
             count(*) OVER (PARTITION BY h) AS cnt
      FROM spans
    ),
    marked AS (
      SELECT doc_id, unnest(generate_series(pos, pos + 19)) AS tpos
      FROM ranked WHERE cnt >= 2 AND rk >= 2
    ),
    dedup AS (SELECT DISTINCT doc_id, tpos FROM marked),
    removed AS (SELECT doc_id, count(*) AS n_removed FROM dedup GROUP BY doc_id),
    base AS (
      SELECT doc_id, len(regexp_split_to_array(lower(text), '\\s+')) AS n_tokens
      FROM documents
    )
    SELECT b.doc_id, b.n_tokens, COALESCE(r.n_removed, 0) AS n_removed,
           round(CAST(COALESCE(r.n_removed, 0) AS DOUBLE) / b.n_tokens, 6)
             AS frac_removed
    FROM base b LEFT JOIN removed r ON b.doc_id = r.doc_id
    """,
    doc="Span-dedup removal stats: keep the FIRST occurrence (by doc, "
    "position) of every duplicated 20-token span, mark the tokens of "
    "every later occurrence, report per-doc removed-token counts. The "
    "rank/count windows partition by span hash (uniform md5 key) and the "
    "remaining aggregations key on doc_id — no global state anywhere.",
)
def span_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    spans = docs.select(
        "doc_id",
        F.posexplode(T.word_ngrams(c, 20)).alias("pos0", "span"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.md5(F.col("span")).alias("h"),
    )
    wh = Window.partitionBy("h")
    ranked = spans.select(
        "doc_id",
        "pos",
        F.row_number().over(wh.orderBy("doc_id", "pos")).alias("rk"),
        F.count(F.lit(1)).over(wh).alias("cnt"),
    )
    removed = (
        ranked.filter((F.col("cnt") >= 2) & (F.col("rk") >= 2))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + 19)).alias("tpos"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_removed"))
    )
    base = docs.select("doc_id", T.token_count(c).alias("n_tokens"))
    return base.join(removed, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_removed"), F.lit(0)).alias("n_removed"),
        F.round(
            F.coalesce(F.col("n_removed"), F.lit(0)) / F.col("n_tokens"), 6
        ).alias("frac_removed"),
    )


_H = "0123456789abcdef"


def _hex20(expr: str) -> str:
    """DuckDB mirror of operators.text._bloom_pos20: first 5 md5 hex
    nibbles as a 20-bit int (no conv(); nibble arithmetic via instr)."""
    return (
        f"(instr('{_H}', ({expr})[1]) - 1) * 65536 + "
        f"(instr('{_H}', ({expr})[2]) - 1) * 4096 + "
        f"(instr('{_H}', ({expr})[3]) - 1) * 256 + "
        f"(instr('{_H}', ({expr})[4]) - 1) * 16 + "
        f"(instr('{_H}', ({expr})[5]) - 1)"
    )


@register(
    "bloom_decontaminate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, regexp_split_to_array(lower(text), '\\s+') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(
                 generate_series(1, greatest(len(t) - 4, 0)),
                 i -> array_to_string(t[i:i+4], ' ')))) AS g
      FROM toks
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE source IN ('src0', 'src1')),
    bpos AS (
      SELECT unnest([{_hex20("md5('b0:' || g)")},
                     {_hex20("md5('b1:' || g)")}]) AS pos
      FROM bench
    ),
    bloom AS (
      SELECT pos // 32 AS w, bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
      FROM bpos GROUP BY 1
    ),
    corpus AS (
      SELECT doc_id, g,
             {_hex20("md5('b0:' || g)")} AS p0,
             {_hex20("md5('b1:' || g)")} AS p1
      FROM grams WHERE source NOT IN ('src0', 'src1')
    ),
    probe AS (
      SELECT doc_id,
             CASE WHEN b0.bits IS NOT NULL AND b1.bits IS NOT NULL
                   AND ((b0.bits >> CAST(p0 % 32 AS INT)) & 1) = 1
                   AND ((b1.bits >> CAST(p1 % 32 AS INT)) & 1) = 1
             THEN 1 ELSE 0 END AS hit
      FROM corpus
      LEFT JOIN bloom b0 ON p0 // 32 = b0.w
      LEFT JOIN bloom b1 ON p1 // 32 = b1.w
    )
    SELECT doc_id, count(*) AS n_ngrams,
           CAST(sum(hit) AS BIGINT) AS n_maybe_contaminated,
           round(CAST(sum(hit) AS DOUBLE) / count(*), 6) AS bloom_frac
    FROM probe GROUP BY doc_id
    """,
    doc="Bloom-filter benchmark decontamination: benchmark 5-grams set "
    "bits in a 2^20-bit / 2-hash filter held as <= 32768 (word, bits) "
    "rows, so the probe over the corpus is two broadcast joins — a "
    "map-only pass with zero corpus-side shuffle, sized by the filter "
    "(which scales with the benchmark, never the corpus). One-sided "
    "error: contamination_check's exact probe is the verifier for "
    "flagged docs; this query IS the 100 TB first stage.",
)
def bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.bloom_contamination(
        load_table(spark, sf_dir, "documents"), bench_sources=("src0", "src1"), n=5
    )


@register(
    "langid_confusion",
    oracle=f"""
    WITH pred AS (
      SELECT lang,
             CASE {{cases}} ELSE 'und' END AS pred_lang
      FROM documents
    )
    SELECT lang, pred_lang, count(*) AS n_docs,
           round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY lang), 6)
             AS share_of_lang
    FROM pred GROUP BY lang, pred_lang
    """.replace("{cases}", _LANG_CASES.replace("best", _BEST)),
    doc="Classifier evaluation readout: confusion matrix of the stopword "
    "language-ID heuristic against the labelled lang column, with each "
    "cell's share of its true-language row. One hash aggregate over the "
    "corpus; the share window runs over the tiny (langs x langs) "
    "aggregate, never over documents.",
)
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select("lang", T.lang_id(F.col("text")).alias("pred_lang"))
    agg = pred.groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("lang")
    return agg.select(
        "lang",
        "pred_lang",
        "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias(
            "share_of_lang"
        ),
    )


@register(
    "char_entropy_filter",
    oracle="""
    WITH c AS (
      SELECT doc_id,
             list_filter(string_split(text, ''), x -> x <> '') AS cs
      FROM documents
    ),
    e AS (
      SELECT doc_id,
             CAST(len(cs) AS BIGINT) AS n_chars,
             CAST(len(list_distinct(cs)) AS BIGINT) AS distinct_chars,
             CASE WHEN len(cs) = 0 THEN 0.0 ELSE round(
               list_sum(list_transform(list_sort(list_distinct(cs)), d ->
                 -(CAST(len(list_filter(cs, x -> x = d)) AS DOUBLE) / len(cs))
                  * log2(CAST(len(list_filter(cs, x -> x = d)) AS DOUBLE)
                         / len(cs)))), 6) END AS entropy
      FROM c
    )
    SELECT doc_id, n_chars, distinct_chars, entropy,
           CAST(entropy BETWEEN 3.0 AND 5.5 AS INT) AS keep
    FROM e
    """,
    doc="Per-document unigram character entropy (bits) + keep gate — the "
    "exact form of the compression-ratio quality filter Gopher-class "
    "pipelines approximate (prose ~3.8-4.8 bits/char; repetition "
    "collapses it, random bytes inflate it). Entirely map-side Column "
    "algebra: a fold over the SORTED distinct characters (sorting pins "
    "cross-engine summation order) counting occurrences with array "
    "filters in whole-stage codegen — no shuffle, no explode, no Python.",
)
def char_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    chars = F.filter(F.split(F.col("text"), ""), lambda c: c != F.lit(""))
    ent = T.char_entropy(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(chars).cast("long").alias("n_chars"),
        F.size(F.array_distinct(chars)).cast("long").alias("distinct_chars"),
        ent.alias("entropy"),
        ((ent >= 3.0) & (ent <= 5.5)).cast("int").alias("keep"),
    )


def _hex8_num(expr: str) -> str:
    """DuckDB expression: first 8 hex digits of md5 string `expr` as a
    number in [0, 2^32) — the cross-engine form of Spark's
    conv(substr(md5, 1, 8), 16, 10)."""
    return " + ".join(
        f"(instr('0123456789abcdef', substr({expr}, {i + 1}, 1)) - 1) "
        f"* {16 ** (7 - i)}"
        for i in range(8)
    )


_CLF_MD5 = "md5('qw:' || t)"
_CLF_W = f"(CAST({_hex8_num(_CLF_MD5)} AS DOUBLE) / 2147483648.0 - 1.0)"


@register(
    "quality_linear_classifier",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
      FROM documents
    ),
    f AS (
      SELECT doc_id,
             list_concat(
               w,
               CASE WHEN len(w) >= 2
                    THEN list_transform(generate_series(1, len(w) - 1),
                                        i -> w[i] || '_' || w[i + 1])
                    ELSE [] END) AS feats
      FROM t
    )
    SELECT doc_id,
           round(list_sum(list_transform(feats, t -> {_CLF_W}))
                 / len(feats), 6) AS clf_score
    FROM f
    """,
    doc="fastText-shaped linear quality classifier (Joulin et al. 2016 "
    "shape): unigram + bigram hashed features, one weight per feature, "
    "score = mean feature weight. The weight vector is deterministic "
    "(md5-derived uniform in [-1,1) — trained weights would swap in as "
    "a broadcast lookup with the identical plan): scoring is a pure "
    "narrow map in whole-stage codegen, zero shuffle — the cheapest "
    "possible quality gate at corpus scale.",
)
def quality_linear_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return T.linear_classifier_score(docs, "text").select("doc_id", "clf_score")


@register(
    "vocab_coverage",
    oracle="""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
      FROM documents
    ),
    vocab AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
    ranked AS (
      SELECT n,
             row_number() OVER (ORDER BY n DESC, tok) AS rk,
             sum(n) OVER (ORDER BY n DESC, tok ROWS UNBOUNDED PRECEDING)
               AS cum
      FROM vocab
    ),
    tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM vocab)
    SELECT CAST(min(CASE WHEN cum >= 0.50 * total THEN rk END) AS BIGINT)
             AS v50,
           CAST(min(CASE WHEN cum >= 0.90 * total THEN rk END) AS BIGINT)
             AS v90,
           CAST(min(CASE WHEN cum >= 0.99 * total THEN rk END) AS BIGINT)
             AS v99,
           CAST(max(rk) AS BIGINT) AS vocab_size,
           CAST(max(cum) AS BIGINT) AS n_tokens
    FROM ranked, tot
    """,
    doc="Tokenizer-design diagnostic: the vocabulary coverage curve — "
    "how many most-frequent word types cover 50/90/99% of all token "
    "occurrences (the readout that sizes a vocab before BPE training). "
    "The corpus-sized work is ONE hash aggregate; the cumulative runs "
    "over the top-2^20 types only (TakeOrderedAndProject — under any "
    "Zipf-shaped corpus the 99% mass sits far inside that head, and no "
    "practical tokenizer vocab exceeds it), so the ordered stage's "
    "input is explicitly bounded, never the token stream. vocab_size / "
    "n_tokens come from the UNCAPPED vocab aggregate (ADVICE r6: the "
    "capped head silently under-reported them past 2^20 types); only "
    "the rank/cumulative coverage columns use the capped head, and the "
    "coverage thresholds are computed against the uncapped token total.",
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    head = vocab.orderBy(F.desc("n"), F.col("tok")).limit(1 << 20)
    w = Window.orderBy(F.desc("n"), F.col("tok")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wr = Window.orderBy(F.desc("n"), F.col("tok"))
    ranked = head.select(
        F.row_number().over(wr).alias("rk"), F.sum("n").over(w).alias("cum")
    )
    # UNCAPPED totals: one extra scalar aggregate over the same vocab
    # relation (Catalyst reuses the exchange), so vocab_size/n_tokens
    # are exact even when the vocabulary exceeds the 2^20 head
    total = vocab.agg(
        F.sum("n").cast("double").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_size_total"),
        F.sum("n").cast("bigint").alias("n_tokens_total"),
    )
    return (
        ranked.crossJoin(F.broadcast(total))
        .agg(
            F.min(F.when(F.col("cum") >= 0.50 * F.col("total"), F.col("rk")))
            .cast("bigint").alias("v50"),
            F.min(F.when(F.col("cum") >= 0.90 * F.col("total"), F.col("rk")))
            .cast("bigint").alias("v90"),
            F.min(F.when(F.col("cum") >= 0.99 * F.col("total"), F.col("rk")))
            .cast("bigint").alias("v99"),
            F.max("vocab_size_total").alias("vocab_size"),
            F.max("n_tokens_total").alias("n_tokens"),
        )
    )


@register(
    "source_shingle_overlap",
    oracle="""
    WITH s AS (
      SELECT DISTINCT source, sh FROM (
        SELECT source,
               unnest(list_distinct(list_transform(
                 generate_series(1, len(t) - 2),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
        FROM (SELECT source, regexp_split_to_array(lower(text), '\\s+') AS t
              FROM documents)
      )
    ),
    sizes AS (SELECT source, count(*) AS n FROM s GROUP BY source),
    common AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS n_common
      FROM s a JOIN s b ON a.sh = b.sh AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b,
           round(CAST(n_common AS DOUBLE) / (x.n + y.n - n_common), 6)
             AS jaccard
    FROM common JOIN sizes x ON source_a = x.source
                JOIN sizes y ON source_b = y.source
    """,
    doc="Exact pairwise SOURCE-level 3-gram Jaccard — the cross-source "
    "contamination/diversity matrix a corpus curator reads before "
    "mixing (the exact companion to kmv_pair_overlap's sketch "
    "estimates). JOIN-FREE: each shingle aggregates its <=|sources| "
    "present-source set, pairs explode from that bounded array "
    "map-side, and one map-combined aggregate lands on <=|sources|^2 "
    "keys — a shingle-keyed self-join (fan |sources|^2 per hot "
    "shingle THROUGH the shuffle) measured 4x slower at sf0.1.",
)
def source_shingle_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup

    # one small parquet file = one input split; the shingle explode is
    # the expensive map, so fan it out first (the plans.parallelism
    # policy every fan-out operator follows — measured 4x here)
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # ONE corpus-sized exchange (VERDICT r7 #2): the old form ran a
    # (source, sh) distinct shuffle AND a groupBy(sh) shuffle, but
    # collect_set already dedups sources per shingle, and the per-source
    # distinct-shingle SIZES fall out of the same per_sh relation (the
    # exchange is reused across both branches).  Measured at sf0.1:
    # 1.93 s -> 1.26 s steady; at 100 TB this halves the shuffled bytes.
    s = docs.select(
        "source",
        F.explode(dedup.word_shingles(F.col("text"), 3)).alias("sh"),
    )
    per_sh = s.groupBy("sh").agg(F.collect_set("source").alias("srcs"))
    ex = per_sh.select(F.explode("srcs").alias("source_a"), "srcs")
    sizes = ex.groupBy("source_a").agg(F.count(F.lit(1)).alias("n"))
    common = (
        ex.select("source_a", F.explode("srcs").alias("source_b"))
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    x = sizes.select("source_a", F.col("n").alias("na"))
    y = sizes.select(
        F.col("source_a").alias("source_b"), F.col("n").alias("nb")
    )
    return (
        common.join(F.broadcast(x), "source_a")
        .join(F.broadcast(y), "source_b")
        .select(
            "source_a",
            "source_b",
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


_SEG_CTE = """
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t FROM documents
    ),
    segs AS (
      SELECT doc_id, i, array_to_string(t[i*3+1:i*3+3], ' ') AS seg
      FROM (SELECT doc_id, t,
                   unnest(generate_series(0, CAST(ceil(len(t)/3.0) AS BIGINT) - 1)) AS i
            FROM toks)
    ),
    hot AS (
      SELECT seg FROM (
        SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY 1
      ) WHERE df > 3
    )
"""


@register(
    "boilerplate_segments",
    oracle=_SEG_CTE
    + """
    SELECT seg, count(DISTINCT doc_id) AS df
    FROM segs GROUP BY 1 HAVING count(DISTINCT doc_id) > 3
    """,
    doc="Corpus-wide boilerplate set (CCNet/RefinedWeb line-dedup rule, "
    "public): 3-token segments present in >3 distinct documents. "
    "Distinct-within-doc runs map-side on the segment array before the "
    "explode, so the single groupBy(seg) shuffle counts distinct docs "
    "with plain count(*) and map-side combine — no count-distinct state.",
)
def boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.boilerplate_hot_segments(docs, "doc_id", "text", seg_tokens=3, max_df=3)


@register(
    "boilerplate_clean_docs",
    oracle=_SEG_CTE
    + """
    SELECT s.doc_id,
           count(*) AS n_segments,
           count(*) FILTER (WHERE s.seg IN (SELECT seg FROM hot)) AS n_removed,
           round(CAST(count(*) FILTER (WHERE s.seg IN (SELECT seg FROM hot)) AS DOUBLE)
                 / count(*), 6) AS removed_frac,
           coalesce(string_agg(s.seg, ' ' ORDER BY s.i)
                      FILTER (WHERE s.seg NOT IN (SELECT seg FROM hot)), '')
             AS clean_text
    FROM segs s GROUP BY s.doc_id
    """,
    doc="Boilerplate-segment removal with in-place document rebuild: "
    "drop every 3-token segment shared by >3 distinct docs, reassemble "
    "each doc from surviving segments in order. Spark plan has NO "
    "reassembly shuffle: docs keep their segment ARRAY, the hot set "
    "broadcasts as a one-row array via crossJoin, and clean_text is an "
    "in-row filter + array_join — only the hot-set aggregate shuffles.",
)
def boilerplate_clean_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.boilerplate_removal(docs, "doc_id", "text", seg_tokens=3, max_df=3)
