"""Streaming near-duplicate rejection at ingest (MinHash-LSH).

Batch LSH dedup (``operators/dedup.py``) answers "which pairs of an
existing corpus collide"; a continuously-fed training-data pipeline
needs the ONLINE form: documents arrive in micro-batches and each is
accepted or rejected against everything accepted BEFORE it.  This is
the near-dup generalization of the reference's content-hash ingest gate
(ST3, ``OverwriteFS`` CRC skip — see ``streaming/nrt.py``): where the
CRC gate drops byte-identical re-fetches, this gate drops documents
whose MinHash signature collides with any accepted document.

Shape: ``foreachBatch`` + an append-only band-bucket store.

  batch -> minhash signatures -> band keys (operators/dedup.band_keys)
        -> REJECT docs holding a (band, band_sig) already in the store
        -> within-batch: per bucket keep the minimum doc id
        -> append survivors' band keys to the store, survivors to out

Acceptance rule = the LSH candidate rule (share >= 1 band bucket), i.e.
exactly the pair predicate of ``dedup_minhash_lsh`` — exact duplicates
share ALL bands, so the exact gate is subsumed.  Within one batch the
resolution is "per bucket, lowest doc id wins": deterministic, one
pass, and marginally more aggressive than arrival-order greedy (a doc
whose only collision is with an already-dropped batch-mate is still
dropped; a chain A~B~C keeps only A where greedy would keep A and C).
Micro-batch membership is itself arrival-order-arbitrary, so no
sequential semantics are lost that the stream ever guaranteed.

Exactly-once: ``foreachBatch`` is at-least-once on failure/retry, so
both writes key their directory by ``batch_id`` and OVERWRITE it — a
replayed batch rewrites the same ``ingest_batch=<id>`` partition, never
double-appends (the standard idempotent-foreachBatch pattern, same
discipline as ``nrt.atomic_overwrite``).

Scale: per batch, both probe joins BROADCAST the micro-batch side —
the store scan is map-only, no shuffle of accepted history, ever.  The
store holds (band, band_sig, doc) hashes only (never text), i.e.
n_bands rows x ~40 bytes per accepted doc.  At very large accepted
history, compact the store into band-bucketed files (``bucketBy`` on
the band key) so the probe prunes to matching buckets; the contract
here is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup
from ..plans.lifecycle import pinned, release_checkpoints, truncate_lineage

_BATCH_COL = "ingest_batch"


def _store_bands(
    spark: SparkSession, store_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """The accepted band-bucket store, or None before the first batch.

    ``exclude_batch`` drops that ``ingest_batch`` partition from the
    probe (partition-pruned, the files are never listed into tasks): a
    REPLAYED batch must not collide with the band keys its first attempt
    already wrote, or every replayed doc would reject against itself."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.option("basePath", store_dir).parquet(store_dir)
    except AnalysisException as e:
        # ONLY the first-batch no-store-yet case may fall through to an
        # empty history; any other read failure (permissions, corrupt
        # footer) must FAIL the batch so foreachBatch retries it —
        # swallowing it would silently disable the gate and admit
        # near-dups into the accepted corpus
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None
        raise
    if exclude_batch is not None and _BATCH_COL in df.columns:
        df = df.filter(F.col(_BATCH_COL) != exclude_batch)
    return df.select("band", "band_sig", "doc")


def ingest_batch(
    batch: DataFrame,
    batch_id: int,
    store_dir: str,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> int:
    """Process ONE micro-batch: reject near-dups of accepted history and
    of smaller batch-mates, append survivors (rows to ``out_dir``, band
    keys to ``store_dir``), both under ``ingest_batch=<batch_id>`` so a
    replay overwrites instead of duplicating.  Returns the number of
    accepted documents (0 for an empty batch — nothing is written, which
    keeps the replay contract: an empty batch has no partition to
    re-overwrite)."""
    if batch.isEmpty():
        return 0
    spark = batch.sparkSession
    sig = dedup.minhash_signatures(
        batch.select(F.col(id_col), F.col(text_col)),
        id_col, text_col, n_perm, shingle_n,
    )
    with pinned(dedup.band_keys(sig, n_perm, rows_per_band)) as bands:
        store = _store_bands(spark, store_dir, exclude_batch=batch_id)
        if store is not None:
            # Two broadcast probes, both map-only over the store: first
            # shrink the store to the batch's buckets (hot), then mark
            # batch docs holding a hot bucket.  The broadcast side is
            # micro-batch-sized in both.
            batch_buckets = bands.select("band", "band_sig").distinct()
            hot = (
                store.join(
                    F.broadcast(batch_buckets), ["band", "band_sig"], "left_semi"
                )
                .select("band", "band_sig")
                .distinct()
            )
            # a doc is rejected if ANY of its buckets is hot — drop all
            # of its band rows, not just the hot ones
            store_hit = (
                bands.join(F.broadcast(hot), ["band", "band_sig"], "left_semi")
                .select("doc")
                .distinct()
            )
            bands0 = bands.join(F.broadcast(store_hit), "doc", "left_anti")
        else:
            bands0 = bands
        # within-batch: per bucket the minimum doc id wins
        bucket_min = bands0.groupBy("band", "band_sig").agg(
            F.min("doc").alias("min_doc")
        )
        dropped = (
            bands0.join(bucket_min, ["band", "band_sig"])
            .where(F.col("doc") > F.col("min_doc"))
            .select("doc")
            .distinct()
        )
        # Truncate lineage BEFORE writing: the second write must not
        # re-execute the store probe after the first write has replaced
        # the store partition under it (replay would read deleted files).
        keep_bands = truncate_lineage(
            bands0.join(F.broadcast(dropped), "doc", "left_anti")
        )
        keep_ids = keep_bands.select("doc").distinct()
        n_kept = keep_ids.count()
        part = f"{_BATCH_COL}={batch_id}"
        keep_bands.select("doc", "band", "band_sig").write.mode(
            "overwrite"
        ).parquet(f"{store_dir}/{part}")
        batch.join(
            F.broadcast(keep_ids.withColumnRenamed("doc", id_col)),
            id_col,
            "left_semi",
        ).write.mode("overwrite").parquet(f"{out_dir}/{part}")
        # both writes are done — free the batch's checkpoint (one
        # leaked entry PER MICRO-BATCH otherwise)
        release_checkpoints(keep_bands)
        return n_kept


def start_lsh_dedup_ingest(
    stream: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
):
    """Wire :func:`ingest_batch` into ``writeStream.foreachBatch`` and
    start the query.  Checkpointing makes batch ids stable across
    restarts, which is what makes the per-batch overwrite exactly-once."""

    def _on_batch(batch: DataFrame, batch_id: int) -> None:
        ingest_batch(
            batch, batch_id, store_dir, out_dir,
            id_col=id_col, text_col=text_col,
            n_perm=n_perm, rows_per_band=rows_per_band, shingle_n=shingle_n,
        )

    return (
        stream.writeStream.foreachBatch(_on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def compact_store(
    spark: SparkSession, store_dir: str, keep_last: int = 1, n_files: int = 8
) -> int:
    """Fold finished per-batch store partitions into a compacted one.

    A long-running ingest writes one small ``ingest_batch=<id>``
    directory per micro-batch; after days of 10-second triggers the
    probe's store scan is dominated by file opens, not bytes (the
    classic streaming small-files problem).  Compaction rewrites all
    batch partitions except the ``keep_last`` most recent — plus any
    previous compacted generations — into a fresh NEGATIVE generation
    partition (``ingest_batch=-1``, then ``-2``, ...) at ``n_files``
    files.  Negative ids can never collide with a streaming batch id
    (those count up from 0), so the replay exclusion
    (``ingest_batch != current``) always keeps compacted history.

    The most recent partitions are left alone because only the LAST
    uncommitted batch can ever be replayed after a restart — its
    partition must stay intact (and stay excluded from its own probe).

    Crash-safety, window by window: the merged data is written to a
    dot-prefixed staging dir (invisible to Spark's partition listing),
    promoted with ONE rename to a generation name that never pre-exists,
    and only then are the source partitions removed.  A crash before
    the rename leaves an orphan staging dir (cleaned on the next call);
    a crash after it leaves duplicate band rows across generations —
    harmless, the probe is a semi-join.  No window can lose accepted
    history or wedge a later compaction.  Returns the number of batch
    partitions folded in."""
    import shutil

    if not os.path.isdir(store_dir):
        return 0
    staged = f"{store_dir}/.compact_staging"
    if os.path.isdir(staged):
        shutil.rmtree(staged)  # leftover from a crashed attempt
    gens: list[int] = []
    batches: list[int] = []
    for d in os.listdir(store_dir):
        if d.startswith(f"{_BATCH_COL}="):
            v = int(d.split("=", 1)[1])
            (gens if v < 0 else batches).append(v)
    batches.sort()
    fold = batches[: max(0, len(batches) - keep_last)]
    if not fold and len(gens) <= 1:
        return 0
    src = [f"{store_dir}/{_BATCH_COL}={b}" for b in fold] + [
        f"{store_dir}/{_BATCH_COL}={g}" for g in gens
    ]
    (
        spark.read.parquet(*src)
        .select("doc", "band", "band_sig")
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(staged)
    )
    os.rename(staged, f"{store_dir}/{_BATCH_COL}={min(gens, default=0) - 1}")
    for path in src:
        shutil.rmtree(path)
    return len(fold)


def read_accepted(spark: SparkSession, out_dir: str) -> DataFrame:
    """The accepted corpus so far (batch view over the ingest sink);
    ``ingest_batch`` arrives as a partition column for free."""
    return spark.read.parquet(out_dir)
