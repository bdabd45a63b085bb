"""The generalized BPE trainer (operators/lm.bpe_train): hand-verified
merge tables against a pure-Python mirror of the reference algorithm
(Sennrich et al. 2016 — positional pair counts, non-overlapping
left-to-right merge application), plus the engine-contract edges:
checkpoint-release hygiene, caller-input shielding, early stop, and the
zero-row case."""

from __future__ import annotations

from erddap2agol_spark.operators.lm import BPE_SENTINEL_BASE, bpe_train

from .test_opt_r09 import _persistent_rdd_ids


def _py_bpe(word_freq: dict[str, int], n_merges: int):
    """Pure-Python mirror: tokens as symbol LISTS (the paper's
    representation) — list-based non-overlapping merging, independent of
    the engine's string-replace algebra.  Tie-break mirrors the engine's
    contract: pairs compare as their 2-char sentinel encodings (raw
    chars stay themselves; merge k encodes as chr(0xE000 + k))."""
    vocab = {tuple(w): c for w, c in word_freq.items()}
    enc = {}  # multi-char symbol -> sentinel char
    out = []
    for rank in range(1, n_merges + 1):
        pairs: dict[tuple, int] = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[syms[i], syms[i + 1]] = pairs.get((syms[i], syms[i + 1]), 0) + c
        if not pairs:
            break
        (l, r), best_n = min(
            pairs.items(),
            key=lambda kv: (-kv[1], enc.get(kv[0][0], kv[0][0]) + enc.get(kv[0][1], kv[0][1])),
        )
        enc[l + r] = chr(BPE_SENTINEL_BASE + rank)
        new_vocab: dict[tuple, int] = {}
        for syms, c in vocab.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    merged.append(l + r)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            key = tuple(merged)
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab
        total = sum(len(s) * c for s, c in vocab.items())
        out.append((rank, l, r, l + r, best_n, total))
    return out


def test_matches_pure_python_mirror(spark):
    freq = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    docs = spark.createDataFrame(
        [(" ".join([w] * c),) for w, c in freq.items()], "text string"
    )
    got = [tuple(r) for r in bpe_train(docs, "text", n_merges=4).collect()]
    assert got == _py_bpe(freq, 4)


def test_merge_of_merge_expands_symbols(spark):
    # rank 1 merges ('a','a') -> 'aa'; rank 2 merges ('aa','b'): the
    # left symbol of rank 2 is itself a merge and must expand fully
    docs = spark.createDataFrame([("aab " * 9 + "aac",)], "text string")
    rows = bpe_train(docs, "text", n_merges=2).collect()
    assert (rows[0]["left_sym"], rows[0]["right_sym"], rows[0]["merged"]) == (
        "a", "a", "aa",
    )
    assert rows[0]["n"] == 10
    assert (rows[1]["left_sym"], rows[1]["right_sym"], rows[1]["merged"]) == (
        "aa", "b", "aab",
    )
    assert rows[1]["n"] == 9
    # totals: 10 words x 3 chars = 30 -> after 'aa' each word is 2
    # symbols (20) -> after 'aab' nine words are 1 symbol (11)
    assert [r["total_symbols"] for r in rows] == [20, 11]
    mirror = _py_bpe({"aab": 9, "aac": 1}, 2)
    assert [tuple(r) for r in rows] == mirror


def test_positional_pair_counts(spark):
    # 'aaa' contributes TWO 'aa' pairs (the paper's count) but the
    # merge applies left-to-right non-overlapping: 'aaa' -> ('aa','a')
    docs = spark.createDataFrame([("aaa aaa aaa",)], "text string")
    rows = bpe_train(docs, "text", n_merges=1).collect()
    assert rows[0]["n"] == 6  # 3 words x 2 positional pairs
    assert rows[0]["total_symbols"] == 6  # 3 x ('aa','a')
    assert [tuple(r) for r in rows] == _py_bpe({"aaa": 3}, 1)


def test_early_stop_and_empty(spark):
    single = spark.createDataFrame([("a b c a",)], "text string")
    assert bpe_train(single, "text", n_merges=5).count() == 0
    empty = spark.createDataFrame([], "text string")
    out = bpe_train(empty, "text", n_merges=3)
    assert out.count() == 0
    assert out.columns == [
        "rank", "left_sym", "right_sym", "merged", "n", "total_symbols",
    ]
    assert bpe_train(single, "text", n_merges=0).count() == 0


def test_checkpoint_chain_releases_and_matches(spark):
    """checkpoint_every smaller than n_merges must (a) not change the
    result and (b) leave ZERO net persistent-RDD blocks behind — the
    trainer's output is a local relation, so every internal checkpoint
    is engine-private and must be freed before return."""
    freq = {"low": 5, "lower": 2, "newest": 6, "widest": 3, "wide": 4}
    docs = spark.createDataFrame(
        [(" ".join([w] * c),) for w, c in freq.items()], "text string"
    )
    base = _persistent_rdd_ids(spark)
    a = [tuple(r) for r in bpe_train(docs, "text", 6, checkpoint_every=2).collect()]
    b = [tuple(r) for r in bpe_train(docs, "text", 6, checkpoint_every=16).collect()]
    assert a == b == _py_bpe(freq, 6)
    assert not (_persistent_rdd_ids(spark) - base)


def test_caller_checkpoint_input_survives(spark):
    """Input-shield contract: a checkpoint-backed caller frame must
    remain readable after bpe_train's internal release chain runs."""
    from erddap2agol_spark.plans.lifecycle import release_checkpoints, truncate_lineage

    docs = truncate_lineage(
        spark.createDataFrame([("low low lower",)], "text string")
    )
    bpe_train(docs, "text", n_merges=3, checkpoint_every=1).collect()
    assert docs.count() == 1  # still readable
    release_checkpoints(docs)


def test_sentinels_are_private_use_area():
    # regression pin: generalized-trainer sentinels must never collide
    # with bpe_merge_rounds' chr(1)/chr(2) or with real text
    assert BPE_SENTINEL_BASE == 0xE000


def test_randomized_corpora_match_mirror(spark):
    """Seeded random corpora (tiny alphabet so ties and merge-of-merge
    chains are frequent) must match the list-algebra mirror exactly,
    including tie-breaks and compression totals."""
    import random

    rng = random.Random(0xB9E)
    for trial in range(6):
        words = [
            "".join(rng.choice("abc") for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(3, 12))
        ]
        freq: dict[str, int] = {}
        for w in words:
            freq[w] = freq.get(w, 0) + rng.randint(1, 5)
        docs = spark.createDataFrame(
            [(" ".join([w] * c),) for w, c in freq.items()], "text string"
        )
        n = rng.randint(1, 6)
        got = [tuple(r) for r in bpe_train(docs, "text", n_merges=n).collect()]
        assert got == _py_bpe(freq, n), (trial, freq, n)


def test_symbol_histogram_classic(spark):
    from erddap2agol_spark.operators.lm import bpe_symbol_histogram

    freq = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    docs = spark.createDataFrame(
        [(" ".join([w] * c),) for w, c in freq.items()], "text string"
    )
    # merges learned: es -> est -> lo -> low; hand-derived symbol mass
    got = {r["symbol"]: r["n"] for r in bpe_symbol_histogram(docs, "text", 4).collect()}
    assert got == {
        "est": 9, "w": 9, "e": 8, "low": 7, "n": 6, "d": 3, "i": 3, "r": 2,
    }


def test_symbol_histogram_conserves_mass(spark):
    """Decode-losslessness in aggregate: the histogram's symbol count
    equals the trainer's final total_symbols, and its CHARACTER mass
    (n x expanded length) equals the raw corpus character mass — no
    symbol is lost or double-counted by the encode/expand chain."""
    from erddap2agol_spark.operators.lm import bpe_symbol_histogram, bpe_train

    freq = {"low": 5, "lower": 2, "newest": 6, "widest": 3, "wide": 4}
    docs = spark.createDataFrame(
        [(" ".join([w] * c),) for w, c in freq.items()], "text string"
    )
    hist = bpe_symbol_histogram(docs, "text", 4, top=10_000).collect()
    trained = bpe_train(docs, "text", 4).collect()
    assert sum(r["n"] for r in hist) == trained[-1]["total_symbols"]
    assert sum(r["n"] * len(r["symbol"]) for r in hist) == sum(
        len(w) * c for w, c in freq.items()
    )


def test_encode_decode_roundtrip_python_mirror():
    """The sentinel representation is lossless: encoding a word through
    the raw replace chain and expanding sentinels back reproduces the
    word exactly (the decode half of the lifecycle)."""
    import random

    from erddap2agol_spark.operators.lm import BPE_SENTINEL_BASE

    rng = random.Random(7)
    for _ in range(20):
        words = {
            "".join(rng.choice("ab") for _ in range(rng.randint(1, 8))): rng.randint(1, 4)
            for _ in range(rng.randint(2, 8))
        }
        mirror = _py_bpe(words, 5)
        # rebuild the raw replace chain exactly as the engine does
        expand: dict[str, str] = {}
        chain: list[tuple[str, str]] = []
        for rank, l, r, merged, _, _ in mirror:
            enc_l = next(
                (s for s, f in expand.items() if f == l), l
            )
            enc_r = next(
                (s for s, f in expand.items() if f == r), r
            )
            sent = chr(BPE_SENTINEL_BASE + rank)
            chain.append((enc_l + enc_r, sent))
            expand[sent] = merged
        for w in words:
            e = w
            for pat, sent in chain:
                e = e.replace(pat, sent)
            d = "".join(expand.get(ch, ch) for ch in e)
            assert d == w, (w, e, d)


def test_empty_tokens_mint_no_phantom_symbols(spark):
    """Split artifacts (leading/trailing whitespace -> '' tokens) must
    not reach the symbol explode: sequence(1, 0) yields [1, 0] in Spark
    and would mint two phantom '' rows per empty token (review r9)."""
    from erddap2agol_spark.operators.lm import bpe_symbol_histogram, bpe_train

    docs = spark.createDataFrame(
        [("low low ",), (" lower low",)], "text string"
    )
    hist = bpe_symbol_histogram(docs, "text", 2, top=100).collect()
    assert all(r["symbol"] != "" for r in hist)
    trained = bpe_train(docs, "text", 2).collect()
    assert sum(r["n"] for r in hist) == trained[-1]["total_symbols"]


def test_encode_stats_survives_degenerate_corpora(spark):
    """A corpus with no learnable round-2 (or round-1) pair must keep
    its merge-independent per-group statistics — the winners are
    always-one-row no-op constants, not empty cross joins (review r9)."""
    from erddap2agol_spark.operators.lm import bpe_encode_stats

    # merge 1 collapses every word to one symbol; round 2 has no pairs
    one_merge = spark.createDataFrame(
        [("g1", "ab ab ab")], "src string, text string"
    )
    rows = bpe_encode_stats(one_merge, "text", "src").collect()
    assert len(rows) == 1
    assert (rows[0]["n_words"], rows[0]["n_chars"], rows[0]["n_symbols"]) == (3, 6, 3)
    # all single-char words: round 1 already has no pairs
    no_merge = spark.createDataFrame(
        [("g1", "a b c"), ("g2", "a a")], "src string, text string"
    )
    got = {r["src"]: r for r in bpe_encode_stats(no_merge, "text", "src").collect()}
    assert got["g1"]["n_symbols"] == got["g1"]["n_chars"] == 3
    assert got["g2"]["n_words"] == 2


def test_histogram_early_stop_returns_chars(spark):
    """Fewer learnable merges than requested: the histogram degrades to
    the character distribution instead of erroring or emptying."""
    from erddap2agol_spark.operators.lm import bpe_symbol_histogram

    docs = spark.createDataFrame([("a b c a",)], "text string")
    got = {r["symbol"]: r["n"] for r in bpe_symbol_histogram(docs, "text", 5).collect()}
    assert got == {"a": 2, "b": 1, "c": 1}


def test_histogram_single_corpus_scan(spark):
    """The encode half must REUSE the trainer's vocabulary checkpoint:
    exactly one corpus-sized token aggregation per call (review r9),
    and the result's backing checkpoint is caller-releasable."""
    from erddap2agol_spark.plans.lifecycle import release_checkpoints
    from erddap2agol_spark.operators.lm import bpe_symbol_histogram

    # id sets, not counts: another test's blocks may be reclaimed by the
    # asynchronous ContextCleaner during this call
    base = _persistent_rdd_ids(spark)
    docs = spark.createDataFrame([("low lower low",)], "text string")
    hist = bpe_symbol_histogram(docs, "text", 2, top=50)
    hist.collect()
    # exactly the ONE kept vocabulary checkpoint backs the plan
    assert len(_persistent_rdd_ids(spark) - base) == 1
    assert release_checkpoints(hist) >= 1
    assert not (_persistent_rdd_ids(spark) - base)


def test_doc_token_counts_match_mirror(spark):
    """Per-document counts under the trained table: cross-checked
    against the list-algebra mirror's final vocabulary segmentation,
    and token mass conserved against the trainer's compression curve."""
    from erddap2agol_spark.plans.lifecycle import release_checkpoints
    from erddap2agol_spark.operators.lm import bpe_doc_token_counts, bpe_train

    texts = {
        1: "low low low lower",
        2: "newest newest widest",
        3: "newest widest low",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    freq: dict[str, int] = {}
    for t in texts.values():
        for w in t.split():
            freq[w] = freq.get(w, 0) + 1
    mirror = _py_bpe(freq, 4)
    # rebuild the mirror's final segmentation lengths per word
    seg_len = {w: len(w) for w in freq}
    enc = {w: list(w) for w in freq}
    for rank, l, r, merged, _, _ in mirror:
        for w, syms in enc.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            enc[w] = out
        seg_len = {w: len(s) for w, s in enc.items()}
    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens"])
        for r in bpe_doc_token_counts(docs, "doc_id", "text", 4).collect()
    }
    want = {
        i: (len(t.split()), sum(seg_len[w] for w in t.split()))
        for i, t in texts.items()
    }
    assert got == want
    counts = bpe_doc_token_counts(docs, "doc_id", "text", 4)
    total = sum(r["n_tokens"] for r in counts.collect())
    trained = bpe_train(docs, "text", 4).collect()
    assert total == trained[-1]["total_symbols"]
    release_checkpoints(counts)
