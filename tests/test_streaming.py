"""NRT / streaming semantics tests (SURVEY §2.9 ST1-ST6)."""

from __future__ import annotations

from pyspark.sql import functions as F

from erddap2agol_spark.sources.tables import load_table
from erddap2agol_spark.streaming import nrt


def _events(spark, n=200, offset=0, start="2024-01-01"):
    return spark.range(offset, offset + n).select(
        F.col("id").alias("event_id"),
        (F.lit(start).cast("timestamp") + F.make_interval(mins=F.col("id"))).alias("ts"),
        (F.col("id") % 5).alias("user_id"),
        (F.col("id") * 1.5).alias("value"),
    )


def test_refresh_publish_then_skip(spark, tmp_path):
    sink = str(tmp_path / "sink")
    df = _events(spark)
    r1 = nrt.refresh(df, "ts", sink, window_days=7, now="2024-01-01 06:00:00")
    assert r1["published"] is True
    out1 = nrt.read_current(spark, sink)
    assert out1.count() == df.filter("ts <= '2024-01-01 06:00:00'").count()

    # same data, same window -> watermark gate skips (no rows newer)
    r2 = nrt.refresh(df, "ts", sink, window_days=7, now="2024-01-01 06:00:00")
    assert r2["published"] is False and "high-water" in r2["reason"]


def test_refresh_incremental_advance(spark, tmp_path):
    sink = str(tmp_path / "sink")
    nrt.refresh(_events(spark, 100), "ts", sink, now="2024-01-01 12:00:00")
    # new rows arrive
    more = _events(spark, 300)
    r = nrt.refresh(more, "ts", sink, now="2024-01-01 12:00:00")
    assert r["published"] is True
    # published snapshot is the full window, not only the delta
    assert nrt.read_current(spark, sink).count() == 300


def test_ab_swap_alternates_and_readers_never_partial(spark, tmp_path):
    sink = str(tmp_path / "sink")
    t1 = nrt.atomic_overwrite(_events(spark, 10), sink)
    assert t1.endswith("data_a")
    before = nrt.read_current(spark, sink).count()
    t2 = nrt.atomic_overwrite(_events(spark, 20), sink)
    assert t2.endswith("data_b")  # blue/green alternation (K7)
    assert before == 10 and nrt.read_current(spark, sink).count() == 20


def test_content_fingerprint_gate(spark, tmp_path):
    sink = str(tmp_path / "sink")
    df = _events(spark, 50)
    assert nrt.content_changed(df, sink) is True  # first sight
    assert nrt.content_changed(df, sink) is False  # identical content
    # same rows, different order -> same fingerprint (order-insensitive)
    assert nrt.content_changed(df.orderBy(F.desc("event_id")), sink) is False
    assert nrt.content_changed(_events(spark, 51), sink) is True


def test_watermark_filter_pushdown(spark, tmp_path):
    sink = str(tmp_path / "sink")
    nrt.save_state(sink, {"high_water_mark": "2024-01-01 01:00:00"})
    df = nrt.newer_than_watermark(_events(spark, 200), "ts", sink)
    assert df.count() == 200 - 61  # minutes 61..199 are strictly newer


def test_foreachbatch_atomic_publish(spark, tmp_path):
    """ST1 end-to-end: streaming windowed counts committed through the
    atomic A/B sink per microbatch — readers always see a complete
    snapshot of the latest aggregate state."""
    src = str(tmp_path / "src")
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    ev.write.parquet(src)
    sink = str(tmp_path / "agg_sink")
    # watermarks need TIMESTAMP (LTZ); the stored ts reads back as NTZ
    agg = (
        spark.readStream.schema(ev.schema)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("bucket_start"), "event_type", "n")
    )

    def commit(batch_df, epoch_id):
        nrt.atomic_overwrite(batch_df, sink)

    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(commit)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = nrt.read_current(spark, sink)
    assert out.agg(F.sum("n")).first()[0] == ev.count()
    assert set(out.columns) == {"bucket_start", "event_type", "n"}


def test_streaming_histogram_sketch_matches_batch(spark, tmp_path):
    """The mergeable quantile sketch streams: histogram_bins is a plain
    combinable count aggregate, so the SAME binning expression runs as
    a streaming aggregation (complete mode), and the streamed bin table
    equals the batch sketch bit-for-bit — batch/stream unification of
    the 100 TB percentile path (readout then happens on the tiny bin
    table, micro-batch by micro-batch)."""
    from erddap2agol_spark.operators.sketch import histogram_bins

    src = str(tmp_path / "hist_src")
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_extendedprice"
    )
    li.write.parquet(src)

    lo, hi, nb = 900.0, 105000.0, 64
    stream = spark.readStream.schema(li.schema).parquet(src)
    # the operator itself runs on the streaming frame — the assertion
    # is about THE shipped expression, not a hand-copied double
    agg = histogram_bins(stream, F.col("l_extendedprice"), lo, hi, nb)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("hist_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        streamed = {
            r["bin"]: r["cnt"]
            for r in spark.sql("SELECT * FROM hist_stream").collect()
        }
        batch = {
            r["bin"]: r["cnt"]
            for r in histogram_bins(
                li, F.col("l_extendedprice"), lo, hi, nb
            ).collect()
        }
        assert streamed == batch
    finally:
        q.stop()
