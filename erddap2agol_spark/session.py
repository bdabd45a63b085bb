"""SparkSession builder tuned for this engine.

Defaults are sized for the local[32] test harness but every setting is the
one you'd want on a real cluster too: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), UTC session timezone (oracle parity and
sanity at scale), Arrow transfer for the few pandas-UDF code paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "erddap2agol_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # AQE: runtime coalescing + skew-join handling — the scale path for
        # skewed ERDDAP station keys / hot dedup buckets.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # UTC everywhere: ERDDAP times are UTC; also required for DuckDB
        # oracle parity (duckdb timestamps are UTC-naive).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver test tables carry TIMESTAMP(NANOS) columns; read as int64
        # nanos and convert (see sources.tables.NANOS_TS_COLS)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python Data Source filter pushdown (sources.erddap_source)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Scan parallelism floor: a FEW-LARGE-FILES table (one 2 GB
        # parquet file at the default 128 MB maxPartitionBytes = 16
        # splits) otherwise leaves half the cores idle through the scan
        # stage — measured r9 on the x50 TPC-H corpus: q21 13.5 s ->
        # 3.5 s from this setting alone.  minPartitionNum only LOWERS
        # the split size (maxSplitBytes = min(maxPartitionBytes,
        # max(openCostInBytes, totalBytes/minPartitionNum))), so small
        # tables keep the 4 MB openCost floor (no tiny-split overhead)
        # and a real cluster's many-file scans are unaffected.
        .config("spark.sql.files.minPartitionNum", cpus)
        # Kryo for block/broadcast serialization: the iterative
        # operators store loop-invariant relations as SERIALIZED local
        # checkpoints (plans.lifecycle.truncate_lineage), and the default
        # JavaSerializer writes those blocks several times slower than
        # Kryo for the same bytes.  SQL shuffles use the dedicated
        # UnsafeRow serializer either way, so this touches only RDD
        # block storage and broadcast payloads.
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # InferFiltersFromGenerate synthesizes `size(arr)>0` under every
        # explode, substitutes the FULL array expression through the
        # projection, and pushes it below exchanges into the scan stage —
        # for explode(word_shingles(text)) that re-runs the whole shingle
        # build single-threaded in the one-split scan (measured 16.5s ->
        # 0.7s at sf0.1 on the posting explode with the rule excluded).
        # Generating over an empty array is free; the inferred filter
        # never pays for itself on computed arrays.  Session-wide scope
        # is deliberate and audited: the rule only helps explodes over
        # STORED array columns with many null/empty arrays, and the one
        # stored-array explode in this engine (posexplode of fixed-64
        # non-null embeddings in label_centroids) can never benefit —
        # while any future computed-array explode would silently
        # re-inherit the pathology if the exclusion were per-query.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Whole-stage codegen class cache: Spark's default of 100 entries
        # is smaller than the ~255 distinct generated classes of a ten-query
        # pass over the registry, so every pass recompiled ~253 of them
        # (Janino, then a fresh JIT of the new classes) and pass times kept
        # drifting.  4000 entries hold ~15 such passes' worth of classes.
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    effective_master = master or os.environ.get("SPARK_MASTER") or f"local[{cpus}]"
    if effective_master.startswith("local"):
        # local[N] runs driver+executors in ONE JVM whose heap defaults to
        # 1g — far too small for N=32 concurrent tasks plus cached
        # intermediates (iterative operators persist per-round vectors).
        # Effective only at JVM launch; a no-op if a session already
        # exists, and never applied under a real cluster manager where
        # spark-submit owns the sizing.
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
