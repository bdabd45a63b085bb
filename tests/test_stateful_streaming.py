"""Cross-microbatch stateful operators (applyInPandasWithState)."""

from __future__ import annotations

from erddap2agol_spark.streaming import stateful


def _write_batch(spark, src, ids, tag, offset=0):
    spark.createDataFrame(
        [(i, f"{tag}_{i}", float(i + offset)) for i in ids],
        schema="k bigint, payload string, v double",
    ).coalesce(1).write.mode("append").parquet(src)


def test_stateful_dedup_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, src, [1, 2, 3, 1], "a")  # in-batch dup of key 1

    schema = "k bigint, payload string, v double"
    stream = spark.readStream.schema(schema).parquet(src)
    out = stateful.stateful_dedup_stream(stream, "k")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        got1 = spark.sql("SELECT k FROM dedup_out").collect()
        assert sorted(r.k for r in got1) == [1, 2, 3]

        # second microbatch: keys 2,3 are dups across batches; 9 is new
        _write_batch(spark, src, [2, 3, 9], "b")
        q.processAllAvailable()
        got2 = spark.sql("SELECT k, payload FROM dedup_out").collect()
        assert sorted(r.k for r in got2) == [1, 2, 3, 9]
        # the surviving rows for 2,3 are from the FIRST batch
        by_key = {r.k: r.payload for r in got2}
        assert by_key[2].startswith("a_") and by_key[9].startswith("b_")
    finally:
        q.stop()


def test_running_max_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, src, [1, 2], "a", offset=10)  # v: 11, 12

    schema = "k bigint, payload string, v double"
    stream = spark.readStream.schema(schema).parquet(src)
    out = stateful.running_max_stream(stream, "k", "v")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("hwm_out")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        _write_batch(spark, src, [1], "b", offset=100)  # v: 101 -> new max
        _write_batch(spark, src, [2], "c", offset=0)  # v: 2 -> below max
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM hwm_out").collect()
        latest = {}
        for r in rows:  # append mode: keep last emission per key
            latest[r.k] = r.running_max
        assert latest[1] == 101.0
        assert latest[2] == 12.0  # state held the old max
    finally:
        q.stop()


def test_stuck_run_alerts_across_batches(spark, tmp_path):
    """Run-length state survives microbatch boundaries, alerts fire
    once per run, value change resets the latch."""
    src = str(tmp_path / "src_stuck")
    ckpt = str(tmp_path / "ckpt_stuck")
    # batch 1: key 1 reports 5.0 twice (run=2, below threshold);
    #          key 2 varies
    spark.createDataFrame(
        [(1, 10, 5.0), (1, 11, 5.0), (2, 10, 1.0), (2, 11, 2.0)],
        schema="k bigint, seq bigint, v double",
    ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("k bigint, seq bigint, v double").parquet(src)
    out = stateful.stuck_run_alerts(stream, "k", "v", "seq", min_run=3)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("stuck_out")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM stuck_out").count() == 0  # run=2 only

        # batch 2: key 1 continues 5.0 -> run crosses 3 HERE (state
        # carried across batches); then keeps reporting 5.0 (no re-alert),
        # then changes and gets stuck at 7.0 for 3 -> a second alert
        spark.createDataFrame(
            [(1, 12, 5.0), (1, 13, 5.0), (1, 14, 7.0), (1, 15, 7.0), (1, 16, 7.0)],
            schema="k bigint, seq bigint, v double",
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        rows = sorted(
            spark.sql("SELECT * FROM stuck_out").collect(),
            key=lambda r: (r.k, r.stuck_value),
        )
        assert [(r.k, r.stuck_value, r.run_len) for r in rows] == [
            (1, 5.0, 3),
            (1, 7.0, 3),
        ]
    finally:
        q.stop()


def test_advance_run_state_machine_pure():
    from erddap2agol_spark.streaming.stateful import _EMPTY, advance_run_state

    st, alerts = advance_run_state(_EMPTY, [5.0, 5.0], 3)
    assert st == (5.0, 2, False) and alerts == []
    # crossing fires once; continuing the run stays latched
    st, alerts = advance_run_state(st, [5.0, 5.0], 3)
    assert st == (5.0, 4, True) and alerts == [(5.0, 3)]
    # value change resets; a fresh run fires again
    st, alerts = advance_run_state(st, [7.0, 7.0, 7.0, 7.0], 3)
    assert st == (7.0, 4, True) and alerts == [(7.0, 3)]


def test_stuck_run_plan_schema(spark):
    """The detector builds a streaming plan without starting a query."""
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("value AS k", "value AS seq", "CAST(value AS DOUBLE) AS v")
    )
    df = stateful.stuck_run_alerts(stream, "k", "v", "seq")
    assert df.isStreaming and [f.name for f in df.schema.fields] == [
        "k", "stuck_value", "run_len",
    ]
