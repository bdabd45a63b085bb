"""Observation-API gate counters (plans/observe.py): metrics ride the
plan — one action computes output AND statistics."""

from __future__ import annotations

from pyspark.sql import functions as F

from erddap2agol_spark.plans.observe import gate_stats, observed_gate


def test_gate_counters_agree_with_output(spark):
    df = spark.range(100).select(
        "id", (F.col("id") % 3 == 0).alias("ok")
    )
    gated, obs = observed_gate(df, F.col("ok"), "mod3")
    n_out = gated.count()  # the ONE action
    stats = gate_stats(obs)
    assert n_out == 34  # 0,3,...,99
    assert stats == {
        "rows_in": 100,
        "rows_kept": 34,
        "rows_dropped": 66,
        "drop_rate": 0.66,
    }


def test_gate_null_predicate_counts_as_dropped(spark):
    df = spark.createDataFrame(
        [(1, True), (2, None), (3, False)], "id long, ok boolean"
    )
    gated, obs = observed_gate(df, F.col("ok"), "nullable")
    assert gated.count() == 1
    s = gate_stats(obs)
    assert (s["rows_in"], s["rows_kept"], s["rows_dropped"]) == (3, 1, 2)


def test_gate_on_quality_pipeline(spark):
    """The intended composition: a quality gate over documents with its
    statistics read from the same action that wrote the output."""
    from erddap2agol_spark.operators.text import quality_score
    from erddap2agol_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    scored = docs.withColumn("q", quality_score(F.col("text")))
    gated, obs = observed_gate(scored, F.col("q") > 0.5, "quality")
    n = gated.count()
    s = gate_stats(obs)
    assert s["rows_in"] == docs.count()
    assert s["rows_kept"] == n
    assert 0.0 <= s["drop_rate"] <= 1.0

