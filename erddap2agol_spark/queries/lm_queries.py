"""Graded queries for the corpus-LM operators (operators/lm.py).

`lm_perplexity` is the CCNet-style quality score over the documents
table (the model is trained on the corpus being scored, in-plan);
`bpe_top_merges` is two rounds of BPE tokenizer-training pair counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.lm import DEFAULT_K, bigram_cross_entropy, bpe_merge_rounds
from ..sources.tables import load_table
from . import register

_K = DEFAULT_K
_TOP = 10

# DuckDB-side tokenization mirrors operators/lm._tokens: lowercase,
# whitespace split.  List indexing is 1-based; generate_series(1, n-1)
# is empty when the token list is a single element.
_BIGRAM_SQL = f"""
    tk AS (
      SELECT doc_id, lang, regexp_split_to_array(lower(text), '\\s+') AS t
      FROM documents
    ),
    bg AS (
      SELECT doc_id, t[i] AS prev, t[i + 1] AS cur
      FROM tk, unnest(generate_series(1, len(t) - 1)) AS u(i)
    ),
    cb AS (SELECT prev, cur, count(*) AS nb FROM bg GROUP BY prev, cur),
    cp AS (SELECT prev, CAST(sum(nb) AS BIGINT) AS np FROM cb GROUP BY prev),
    vv AS (
      SELECT count(DISTINCT tok) AS v
      FROM (SELECT unnest(t) AS tok FROM tk)
    )
"""
_PERPLEXITY_SQL = f"""
    WITH {_BIGRAM_SQL}
    SELECT bg.doc_id, any_value(tk.lang) AS lang,
           count(*) AS n_bigrams,
           round(avg(ln(np + {_K} * v) - ln(nb + {_K})), 4) AS cross_entropy
    FROM bg
    JOIN cb ON bg.prev = cb.prev AND bg.cur = cb.cur
    JOIN cp ON bg.prev = cp.prev
    JOIN tk ON bg.doc_id = tk.doc_id
    CROSS JOIN vv
    GROUP BY bg.doc_id
"""


@register(
    "lm_perplexity",
    oracle=_PERPLEXITY_SQL,
    doc="CCNet-style per-document cross-entropy under the corpus's own "
    "add-k bigram model (Wenzek et al. 2020) — the ranking signal for "
    "quality gating: boilerplate scores low, keyboard-mash scores "
    "high. Bigrams pair up inside the scan stage (array transform, no "
    "window); the model build is two hash aggregations on token keys; "
    "the vocabulary-sized model is broadcast to the scoring equi-join "
    "on (prev, cur). One corpus-sized shuffle (the model build's "
    "map-side-combined (prev, cur) aggregate), no driver state. "
    "Final 4dp round absorbs cross-engine float summation-order and "
    "libm last-ulp drift over the ~127-term per-doc average.",
)
def lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = bigram_cross_entropy(docs, "doc_id", "text", k=_K, extra_cols=("lang",))
    return scored.select(
        "doc_id",
        "lang",
        "n_bigrams",
        F.round("cross_entropy", 4).alias("cross_entropy"),
    )


@register(
    "lm_perplexity_agg",
    oracle=_PERPLEXITY_SQL,
    doc="lm_perplexity under a second name: the same two-pass scorer "
    "(bigram_cross_entropy) and the same oracle. bench.py's headline "
    "set and the query_suite benchmark time it under this name.",
)
def lm_perplexity_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm_perplexity(spark, sf_dir)


@register(
    "bpe_top_merges",
    oracle=f"""
    WITH vocab AS (
      SELECT tok, count(*) AS c
      FROM (
        SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
        FROM documents
      )
      GROUP BY tok
    ),
    r1 AS (
      SELECT substr(tok, i, 2) AS pair, CAST(sum(c) AS BIGINT) AS n
      FROM vocab, unnest(generate_series(1, len(tok) - 1)) AS u(i)
      WHERE len(tok) >= 2
      GROUP BY pair
    ),
    m AS (SELECT pair AS m1 FROM r1 ORDER BY n DESC, pair ASC LIMIT 1),
    vocab2 AS (
      SELECT replace(tok, m1, chr(1)) AS tok, c, m1
      FROM vocab CROSS JOIN m
    ),
    r2 AS (
      SELECT substr(tok, i, 2) AS pair, CAST(sum(c) AS BIGINT) AS n,
             any_value(m1) AS m1
      FROM vocab2, unnest(generate_series(1, len(tok) - 1)) AS u(i)
      WHERE len(tok) >= 2
      GROUP BY pair
    ),
    top1 AS (
      SELECT 1 AS round, substr(pair, 1, 1) AS left_sym,
             substr(pair, 2, 1) AS right_sym, n
      FROM r1 ORDER BY n DESC, pair ASC LIMIT {_TOP}
    ),
    top2 AS (
      SELECT 2 AS round,
             replace(substr(pair, 1, 1), chr(1), m1) AS left_sym,
             replace(substr(pair, 2, 1), chr(1), m1) AS right_sym, n
      FROM r2 ORDER BY n DESC, pair ASC LIMIT {_TOP}
    )
    SELECT * FROM top1 UNION ALL SELECT * FROM top2
    """,
    doc="First two rounds of BPE tokenizer training (Sennrich et al. "
    "2016): adjacent-symbol pair counts weighted by word frequency, "
    "top merge applied via non-overlapping left-to-right replace with "
    "an atomic sentinel symbol, recount. The corpus-sized work is ONE "
    "token-count aggregation; every merge round runs on the "
    "vocabulary table (corpus-row-count independent), and the round-1 "
    "winner reaches round 2 as a one-row broadcast, never a collect. "
    "Counts are exact integers — bit-stable across engines.",
)
def bpe_top_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return bpe_merge_rounds(docs, "text", top_per_round=_TOP)


@register(
    "lm_quality_gate",
    oracle=f"""
    WITH {_BIGRAM_SQL},
    scored AS (
      SELECT bg.doc_id, any_value(tk.lang) AS lang,
             round(avg(ln(np + {_K} * v) - ln(nb + {_K})), 4) AS cross_entropy
      FROM bg
      JOIN cb ON bg.prev = cb.prev AND bg.cur = cb.cur
      JOIN cp ON bg.prev = cp.prev
      JOIN tk ON bg.doc_id = tk.doc_id
      CROSS JOIN vv
      GROUP BY bg.doc_id
    ),
    gate AS (
      SELECT lang, round(quantile_cont(cross_entropy, 0.9), 6) AS hi
      FROM scored GROUP BY lang
    )
    SELECT s.doc_id, s.lang, s.cross_entropy, g.hi
    FROM scored s JOIN gate g ON s.lang = g.lang
    WHERE s.cross_entropy <= g.hi
    """,
    doc="The CCNet gate composed end-to-end: score every document "
    "under the corpus bigram LM, then keep those at or below their "
    "language's p90 cross-entropy (drop the keyboard-mash tail, "
    "per-language so low-resource languages are not judged by the "
    "head language's model fit). The percentile is one |langs|-row "
    "exact-quantile aggregate broadcast back onto the scored table -- "
    "no window, no corpus sort. Percentile inputs are the 4dp-rounded "
    "scores, so interpolation runs on bit-identical doubles in both "
    "engines; bounds round to 6dp before the compare.",
)
def lm_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = bigram_cross_entropy(
        docs, "doc_id", "text", k=_K, extra_cols=("lang",)
    ).select(
        "doc_id", "lang", F.round("cross_entropy", 4).alias("cross_entropy")
    )
    gate = scored.groupBy("lang").agg(
        F.round(F.percentile("cross_entropy", F.lit(0.9)), 6).alias("hi")
    )
    return (
        scored.join(F.broadcast(gate), "lang")
        .where(F.col("cross_entropy") <= F.col("hi"))
        .select("doc_id", "lang", "cross_entropy", "hi")
    )


@register(
    "bpe_encode_stats",
    oracle="""
    WITH wf AS (
      SELECT source, tok, count(*) AS c
      FROM (SELECT source, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
            FROM documents)
      GROUP BY 1, 2
    ),
    vocab AS (SELECT tok, CAST(sum(c) AS BIGINT) AS c FROM wf GROUP BY tok),
    r1 AS (
      SELECT substr(tok, i, 2) AS pair, sum(c) AS n
      FROM vocab, unnest(generate_series(1, len(tok) - 1)) AS u(i)
      WHERE len(tok) >= 2 GROUP BY pair
    ),
    m1 AS (SELECT coalesce(
             (SELECT pair FROM r1 ORDER BY n DESC, pair ASC LIMIT 1),
             chr(57344) || chr(57344)) AS m1),
    vocab2 AS (
      SELECT replace(tok, m1, chr(1)) AS tok, c FROM vocab CROSS JOIN m1
    ),
    r2 AS (
      SELECT substr(tok, i, 2) AS pair, sum(c) AS n
      FROM vocab2, unnest(generate_series(1, len(tok) - 1)) AS u(i)
      WHERE len(tok) >= 2 GROUP BY pair
    ),
    m2 AS (SELECT coalesce(
             (SELECT pair FROM r2 ORDER BY n DESC, pair ASC LIMIT 1),
             chr(57344) || chr(57344)) AS m2),
    enc AS (
      SELECT source, c, len(tok) AS n_char,
             len(replace(replace(tok, m1, chr(1)), m2, chr(2))) AS n_sym
      FROM wf CROSS JOIN m1 CROSS JOIN m2
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_words,
           CAST(sum(c * n_char) AS BIGINT) AS n_chars,
           CAST(sum(c * n_sym) AS BIGINT) AS n_symbols,
           round(CAST(sum(c * n_sym) AS DOUBLE) / sum(c), 6)
             AS avg_symbols_per_word
    FROM enc GROUP BY source
    """,
    doc="The ENCODE half of the BPE tokenizer lifecycle: train the "
    "first two merges (bpe_top_merges' algebra), apply them corpus-wide "
    "(sentinel-atomic left-to-right replace over the VOCABULARY table, "
    "never re-touching the corpus), and report per-source words / "
    "chars / symbols / symbols-per-word — the number a mixture designer "
    "budgets token counts with. One corpus-sized aggregation total; "
    "merge constants ride one-row broadcasts (ALWAYS one row: a corpus "
    "with no learnable pair trains a no-op constant, so the merge-"
    "independent word/char statistics survive). Counts exact integers; "
    "the single ratio rounds at 6dp on bit-identical int sums.",
)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lm import bpe_encode_stats as _encode

    docs = load_table(spark, sf_dir, "documents")
    return _encode(docs, "text", "source")


_BPE_N = 5
_BPE_BASE = 0xE000  # operators/lm.BPE_SENTINEL_BASE


def _bpe_ctes(n: int) -> list[str]:
    """Shared nested-CTE mirror of operators/lm._bpe_train_rows for
    ``n`` merges: round k counts positional pairs over vocab_{k-1},
    takes the winner by (n desc, pair asc), expands its symbols through
    the previous winners' full strings, rewrites the vocabulary with
    sentinel chr(0xE000+k), and totals the post-merge corpus symbols."""
    ctes = [
        """vocab0 AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
            FROM documents)
      GROUP BY tok
    )"""
    ]
    for k in range(1, n + 1):
        sent = _BPE_BASE + k

        def _expand(expr: str) -> str:
            # sentinels 1..k-1 -> their fully-expanded strings
            for j in range(1, k):
                expr = f"replace({expr}, chr({_BPE_BASE + j}), f{j}.fullstr)"
            return expr

        prior = "".join(f" CROSS JOIN f{j}" for j in range(1, k))
        ctes.append(
            f"""p{k} AS (
      SELECT substr(tok, i, 2) AS pair, CAST(sum(c) AS BIGINT) AS n
      FROM vocab{k - 1}, unnest(generate_series(1, len(tok) - 1)) AS u(i)
      WHERE len(tok) >= 2 GROUP BY pair
    ),
    w{k} AS (SELECT pair, n FROM p{k} ORDER BY n DESC, pair ASC LIMIT 1),
    f{k} AS (
      SELECT w{k}.n, {_expand(f"w{k}.pair")} AS fullstr,
             {_expand(f"substr(w{k}.pair, 1, 1)")} AS lsym,
             {_expand(f"substr(w{k}.pair, 2, 1)")} AS rsym
      FROM w{k}{prior}
    ),
    vocab{k} AS (
      SELECT replace(v.tok, w.pair, chr({sent})) AS tok, v.c
      FROM vocab{k - 1} v CROSS JOIN w{k} w
    ),
    t{k} AS (SELECT CAST(sum(c * len(tok)) AS BIGINT) AS total
             FROM vocab{k})"""
        )
    return ctes


def _bpe_train_oracle(n: int) -> str:
    ctes = _bpe_ctes(n)
    selects = [
        f"""SELECT CAST({k} AS INT) AS "rank", lsym AS left_sym,
           rsym AS right_sym, fullstr AS merged, n,
           total AS total_symbols
    FROM f{k} CROSS JOIN t{k}"""
        for k in range(1, n + 1)
    ]
    return "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL ".join(selects)


@register(
    "bpe_merge_table",
    oracle=_bpe_train_oracle(_BPE_N),
    doc="The FULL tokenizer-training lifecycle: an n-round BPE merge "
    "table (rank, expanded merge symbols, weighted pair count, and the "
    "post-merge corpus symbol total — the compression curve that "
    "decides when to stop adding merges). The corpus is touched ONCE "
    "(the token-frequency aggregate); each round runs two "
    "vocabulary-sized jobs, the winner row is the operator's own "
    "bounded driver-sized output, and replace-chain plan depth is "
    "bounded by the truncate_lineage release chain. Counts and totals "
    "are exact integers — bit-stable across engines; the oracle "
    "unrolls the identical algebra as nested CTEs.",
)
def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lm import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train(docs, "text", n_merges=_BPE_N)


def _bpe_hist_oracle(n: int, top: int) -> str:
    """Symbol-frequency readout over vocab_n: explode each encoded
    token one character per symbol weighted by word frequency, expand
    sentinels back to full strings, top-k by (n desc, symbol asc).

    PRECONDITION: the corpus must admit >= n merges (true for every
    graded ``documents`` table at every sf).  On an early-stopping
    corpus the Spark side returns the real histogram under the merges
    it could learn, while this static CTE chain empties through the
    w_k/f_k cross joins — so the oracle is only paired with corpora
    where n merges exist."""
    ctes = _bpe_ctes(n)
    expand = "s"
    for j in range(1, n + 1):
        expand = f"replace({expand}, chr({_BPE_BASE + j}), f{j}.fullstr)"
    prior = "".join(f" CROSS JOIN f{j}" for j in range(1, n + 1))
    ctes.append(
        f"""sym AS (
      SELECT substr(tok, i, 1) AS s, c
      FROM vocab{n}, unnest(generate_series(1, len(tok))) AS u(i)
    ),
    agg AS (SELECT s, CAST(sum(c) AS BIGINT) AS n FROM sym GROUP BY s)"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT {expand} AS symbol, agg.n AS n
    FROM agg{prior}
    ORDER BY agg.n DESC, symbol ASC LIMIT {top}"""
    )


_BPE_TOP = 20


@register(
    "bpe_token_frequencies",
    oracle=_bpe_hist_oracle(_BPE_N, _BPE_TOP),
    doc="The tokenizer APPLIED: tokenize the corpus under the freshly "
    "trained n-rank merge table and report the top token frequencies — "
    "the effective vocabulary head, i.e. whether the learned merges "
    "carry real token mass. Training is bpe_merge_table's algebra; "
    "encoding is a literal replace chain over the VOCABULARY table "
    "(the corpus is still touched only once), then a one-char-per-"
    "symbol explode weighted by word frequency, aggregated and cut to "
    "top-k. Counts exact integers; symbols expand deterministically.",
)
def bpe_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lm import bpe_symbol_histogram

    docs = load_table(spark, sf_dir, "documents")
    return bpe_symbol_histogram(docs, "text", n_merges=_BPE_N, top=_BPE_TOP)


def _bpe_doc_counts_oracle(n: int) -> str:
    """Per-document tokenization under the n-merge table: the encoded
    length of every vocabulary word (the dictionary) joins back to the
    exploded corpus.  Same early-stop precondition as _bpe_hist_oracle."""
    ctes = _bpe_ctes(n)
    enc = "v.tok"
    for j in range(1, n + 1):
        enc = f"replace({enc}, w{j}.pair, chr({_BPE_BASE + j}))"
    joins = "".join(f" CROSS JOIN w{j}" for j in range(1, n + 1))
    ctes.append(
        f"""dim AS (
      SELECT v.tok, len({enc}) AS n_sym
      FROM vocab0 v{joins}
    ),
    tkx AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
      FROM documents
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT tkx.doc_id, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(d.n_sym) AS BIGINT) AS n_tokens
    FROM tkx JOIN dim d ON tkx.tok = d.tok
    GROUP BY tkx.doc_id"""
    )


@register(
    "bpe_doc_token_counts",
    oracle=_bpe_doc_counts_oracle(_BPE_N),
    doc="The corpus-scale tokenization job: per-document token counts "
    "under the freshly trained n-rank merge table — the number every "
    "sequence-packing / token-budget stage downstream consumes. The "
    "encoded length of each word is computed once on the reused "
    "vocabulary checkpoint (the dictionary stays vocabulary-sized); "
    "the corpus tokenizes via ONE equi-join of the exploded corpus "
    "against that dictionary plus ONE per-document aggregate — no "
    "per-document Python, no window. Counts exact integers.",
)
def bpe_doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lm import bpe_doc_token_counts as _counts

    docs = load_table(spark, sf_dir, "documents")
    return _counts(docs, "doc_id", "text", n_merges=_BPE_N)
