"""Corpus-LM operators: bigram cross-entropy and BPE merge rounds
(operators/lm.py), with hand-computed tiny cases."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from erddap2agol_spark.operators.lm import (
    bigram_cross_entropy,
    bigram_model,
    bpe_merge_rounds,
    doc_bigrams,
    token_vocabulary,
)


@pytest.fixture()
def tiny_docs(spark):
    return spark.createDataFrame(
        [
            (1, "a b a b", "x"),
            (2, "a b", "x"),
            (3, "c", "y"),  # single token: no bigrams
        ],
        "id int, text string, lang string",
    )


def test_doc_bigrams_positions(spark, tiny_docs):
    rows = {
        (r.id, r.prev, r.cur, r.n)
        for r in doc_bigrams(tiny_docs, "id", "text")
        .groupBy("id", "prev", "cur")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # doc 1: (a,b) x2, (b,a) x1 ; doc 2: (a,b) x1 ; doc 3: none
    assert rows == {(1, "a", "b", 2), (1, "b", "a", 1), (2, "a", "b", 1)}


def test_bigram_model_counts(spark, tiny_docs):
    cb, cp, vocab = bigram_model(tiny_docs, "id", "text")
    assert {(r.prev, r.cur, r.nb) for r in cb.collect()} == {
        ("a", "b", 3),
        ("b", "a", 1),
    }
    assert {(r.prev, r.np) for r in cp.collect()} == {("a", 3), ("b", 1)}
    assert vocab.collect()[0].v == 3  # a, b, c


def test_cross_entropy_hand_computed(spark, tiny_docs):
    # k=0.5, V=3: p(b|a) = (3+.5)/(3+1.5) = 7/9 ; p(a|b) = (1+.5)/(1+1.5) = 3/5
    lp_ab, lp_ba = math.log(7 / 9), math.log(3 / 5)
    for extra_cols in [(), ("lang",)]:
        rows = bigram_cross_entropy(
            tiny_docs, "id", "text", k=0.5, extra_cols=extra_cols
        ).collect()
        out = {r.id: (r.n_bigrams, r.cross_entropy) for r in rows}
        assert out[2] == (1, pytest.approx(-lp_ab))
        assert out[1] == (3, pytest.approx(-(2 * lp_ab + lp_ba) / 3))
        assert 3 not in out  # no bigrams -> not scored
        if extra_cols:  # carried through per document
            assert {r.id: r.lang for r in rows} == {1: "x", 2: "x"}


def test_cross_entropy_ranks_mash_above_boilerplate(spark):
    # 18 copies of a fluent sentence vs one doc of unique junk tokens:
    # the repeated text must be far more predictable under the corpus LM.
    rows = [(i, "the quick brown fox jumps over the lazy dog", "en") for i in range(18)]
    rows.append((99, "zq xv qj vx jz qzz xqv one two", "en"))
    docs = spark.createDataFrame(rows, "id int, text string, lang string")
    got = {r.id: r.cross_entropy for r in bigram_cross_entropy(docs, "id", "text").collect()}
    assert got[99] > got[0] * 2


def test_bpe_rounds_hand_computed(spark):
    # vocab: "abab" x3, "ab" x2  ->  round 1 pairs: ab: 3*2+2 = 8, ba: 3
    # merge m1 = "ab"; rewrite: "\x01\x01" x3, "\x01" x2
    # round 2 pairs: (\x01,\x01): 3  -> expanded (ab, ab, 3)
    docs = spark.createDataFrame(
        [(1, "abab abab ab"), (2, "abab ab")], "id int, text string"
    )
    out = [
        (r["round"], r.left_sym, r.right_sym, r.n)
        for r in bpe_merge_rounds(docs, "text", top_per_round=5)
        .orderBy("round", F.desc("n"), "left_sym")
        .collect()
    ]
    assert out == [(1, "a", "b", 8), (1, "b", "a", 3), (2, "ab", "ab", 3)]


def test_token_vocabulary_is_corpus_weighted(spark):
    docs = spark.createDataFrame([(1, "x x y"), (2, "x")], "id int, text string")
    assert {(r.tok, r.c) for r in token_vocabulary(docs, "text").collect()} == {
        ("x", 3),
        ("y", 1),
    }


def test_lm_plans_are_scale_shaped(spark, tiny_docs):
    # no window, no cartesian/nested-loop beyond the 1-row scalar
    # broadcasts, no corpus-side sort before the final readout
    plan = bigram_cross_entropy(tiny_docs, "id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    bpe = bpe_merge_rounds(tiny_docs, "text")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in bpe
    # the only nested-loop joins allowed are the one-row merge scalar
    assert bpe.count("BroadcastNestedLoopJoin") <= 3
