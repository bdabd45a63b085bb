"""jaccard_pairs_auto regime dispatch (VERDICT r4 #2): the sum(df^2)
probe promoted from a docstring note to a dispatching operator, with a
planted fixture for each regime."""

from __future__ import annotations

import pytest

from erddap2agol_spark.operators import dedup


@pytest.fixture(scope="module")
def uniform_docs(spark):
    """30 docs with fully disjoint vocabularies — every shingle df=1,
    fan-out ratio 1: the posting-join regime."""
    rows = [
        (i, " ".join(f"u{i}w{j}" for j in range(12))) for i in range(30)
    ]
    # one planted near-dup pair so the result is non-empty
    rows.append((100, rows[0][1] + " extraword"))
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def skewed_docs(spark):
    """300 docs sharing one boilerplate sentence (hot shingles df=300)
    plus unique bodies — the web-corpus skew regime where the posting
    join's sum(df^2) explodes and prefix filtering wins."""
    boiler = "all rights reserved copyright two thousand site inc"
    rows = []
    for i in range(300):
        base = i - 1 if i in (1, 3) else i
        toks = [f"s{base}w{j}" for j in range(10)]
        if i in (1, 3):
            toks[-1] = "CHANGED"
        rows.append((i, " ".join(toks) + " " + boiler))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_probe_picks_posting_on_uniform(spark, uniform_docs):
    assert dedup.jaccard_regime_probe(uniform_docs, "doc_id", "text") == "posting"


def test_probe_picks_prefix_on_boilerplate_skew(spark, skewed_docs):
    # default threshold: the planted df=300 boilerplate pushes the mean
    # pair fan-out per posting row past 64
    assert dedup.jaccard_regime_probe(skewed_docs, "doc_id", "text") == "prefix"


def _pairs(df):
    return {(r.doc_a, r.doc_b): round(r.jaccard, 6) for r in df.collect()}


def test_auto_posting_branch_matches_definition(spark, uniform_docs):
    auto = dedup.jaccard_pairs_auto(uniform_docs, "doc_id", "text", threshold=0.5)
    assert auto.columns == ["doc_a", "doc_b", "jaccard"]
    direct = dedup.ngram_jaccard_pairs(
        uniform_docs, "doc_id", "text", threshold=0.5
    )
    got = _pairs(auto)
    assert got == _pairs(direct)
    assert (0, 100) in got  # the planted near-dup survives


def test_auto_prefix_branch_matches_posting_result(spark, skewed_docs):
    """The two regimes are different PLANS for the same answer: on the
    skew fixture (auto dispatches to prefix) the result must equal the
    posting join's, pair for pair and score for score."""
    auto = dedup.jaccard_pairs_auto(skewed_docs, "doc_id", "text", threshold=0.5)
    assert auto.columns == ["doc_a", "doc_b", "jaccard"]
    direct = dedup.ngram_jaccard_pairs(
        skewed_docs, "doc_id", "text", threshold=0.5
    )
    got = _pairs(auto)
    assert got == _pairs(direct)
    assert (0, 1) in got and (2, 3) in got


@pytest.mark.parametrize("fixture", ["uniform_docs", "skewed_docs"])
def test_auto_unpinned_probe_matches_pinned(spark, tmp_path, monkeypatch, request, fixture):
    """A file-backed corpus above SHARED_EXPLODE_MAX_BYTES takes the
    unpinned probe (the public jaccard_regime_probe over a fresh
    explode) and returns the same pairs as the pinned shared-explode
    path below the gate, on either regime's fixture."""
    request.getfixturevalue(fixture).write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    pinned_path = dedup.jaccard_pairs_auto(docs, "doc_id", "text", threshold=0.5)
    expected = _pairs(pinned_path)
    dedup.release_checkpoints(pinned_path)

    probes = []

    def probe(*args, **kwargs):
        probes.append(args)
        return real_probe(*args, **kwargs)

    real_probe = dedup.jaccard_regime_probe
    monkeypatch.setattr(dedup, "jaccard_regime_probe", probe)
    monkeypatch.setattr(dedup, "SHARED_EXPLODE_MAX_BYTES", 0)
    unpinned = dedup.jaccard_pairs_auto(docs, "doc_id", "text", threshold=0.5)
    assert len(probes) == 1
    assert unpinned.columns == ["doc_a", "doc_b", "jaccard"]
    assert _pairs(unpinned) == expected and expected
    dedup.release_checkpoints(unpinned)
