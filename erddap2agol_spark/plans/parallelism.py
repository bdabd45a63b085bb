"""Fan-out width policy: the one place that decides a task width.

Fan-out operators (shingle/token explodes, pair joins, vector scoring,
iterated graph rounds) multiply work per input row: a one-task scan runs
the whole operator on one core, while a tiny input spread over the full
cluster pays the task-launch floor in near-empty tasks.  Every width is
therefore DERIVED from a measured size — the scan's input bytes or a
counted row total — and clamped to [1, defaultParallelism]:

- :func:`ensure_parallelism` repartitions an under-parallelized input
  before fan-out work (a no-op on an already-wide scan);
- :func:`fanout_width` gives an explicit width for a compute-heavy KEYED
  repartition, or None to leave it to the planner;
- :func:`loop_width` sizes the loop-invariant relation of an iterative
  graph operator.

Each costs a plan walk and driver-side file stats, never a job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

#: Input bytes (compressed parquet) per fan-out task.  Fan-out operators
#: multiply input 10-100x and parquet decompresses ~4x, so 256 KiB of
#: input is ~10-100 MB of in-flight rows per task — the guide §2.6
#: partition sweet spot.  A 600 KB local documents table gets 3 tasks
#: instead of a cluster-width 32 (measured r9: the 32-way repartition of
#: the 5k-doc sf0.1 corpus cost every downstream stage 32 near-empty
#: tasks — lm_perplexity 1.34 s -> 0.95 s, minhash_signatures
#: 0.81 s -> 0.70 s at the derived width), while anything over ~8 MB
#: ships at full defaultParallelism.
FANOUT_INPUT_BYTES_PER_TASK = 256 << 10

#: Target rows per task for an iterated (loop-invariant) relation.  An
#: iterative pass over a SMALL graph is task-launch floor, not data: a
#: 3.6k-edge graph iterated 4 rounds at 32-partition granularity
#: launches ~400 near-empty tasks where 12 would do (measured: LPA on the
#: sf0.1 repeat-co-purchase graph 4.5 s -> 2.0 s from compaction alone).
#: Big graphs keep ambient parallelism, and AQE can still split skewed
#: partitions downstream.
LOOP_ROWS_PER_TASK = 400_000

# Weight table.  A fan-out weight multiplies the BYTES side of the
# size-derived width for operators whose per-input-byte COMPUTE is far
# above the explode-and-aggregate baseline FANOUT_INPUT_BYTES_PER_TASK
# was sized for: the width still shrinks for truly tiny inputs and still
# caps at defaultParallelism.  Measurements: OPTIMIZATION_r10.md.

#: PPJoin-style posting pair joins (``dedup._shingle_rows``): the join
#: explodes C(df, 2) candidate pairs per posting list.  Interleaved A/B
#: at both core counts: weight 1 under-provisions the join stage (c32
#: medians: ngram 3.00 s, auto 2.98 s), 16 over-widens it at c32 (ngram
#: 2.24 s, auto 3.10 s), 4 sits at the knee (ngram 1.77 s, auto 2.06 s);
#: at c8, 4 and 16 derive the same width.
PAIR_JOIN_FANOUT_WEIGHT = 4
#: Vector-scoring fan-outs (brute-force cosine, in-bucket LSH scoring,
#: embedding near-dup pairs): an interpreted higher-order-function dot
#: product times the candidate multiplicity per row (c32 medians:
#: brute force 2.00 -> 1.34 s, sign-LSH 2.04 -> 1.70 s).
VECTOR_FANOUT_WEIGHT = 8
#: ``graph.copurchase_edges``' keyed group collect: the downstream
#: in-row pair explode is quadratic per group.
COPURCHASE_FANOUT_WEIGHT = 8
#: The corpus-manifest quality gate: dozens of regex passes per
#: document; unweighted, each gate stage of the small sf0.1 corpus ran
#: on 1-3 tasks (profile steady 4.0 -> 3.7 s with the weight).
QUALITY_GATE_FANOUT_WEIGHT = 4

#: parquet-footer row-group counts — driver-side metadata reads, same
#: class of work as Spark's own file listing.  One entry per PATH,
#: validated by (mtime, size): a rewritten file replaces its entry
#: instead of accumulating dead keys, and the size component narrows the
#: 1-second-mtime staleness window of an in-place overwrite.
_ROW_GROUP_CACHE: dict[str, tuple[tuple[float, int], int]] = {}


def _width(amount: int, per_task: int, cap: int) -> int:
    """ceil(amount / per_task), clamped to [1, cap]."""
    return max(1, min(cap, -(-amount // per_task)))


def _local_files(df: DataFrame) -> list[str] | None:
    """Local paths of the files behind ``df``'s scan, or None when the
    plan has no file scan or any file is remote (not locally stat-able)."""
    try:
        uris = df.inputFiles()
    except Exception:
        return None
    if not uris:
        return None
    paths = []
    for uri in uris:
        if uri.startswith("file://"):
            paths.append(uri[len("file://"):])
        elif uri.startswith("file:"):
            paths.append(uri[len("file:"):])
        elif uri.startswith("/"):
            paths.append(uri)
        else:
            return None
    return paths


def _total_bytes(paths: list[str] | None) -> int | None:
    if paths is None:
        return None
    try:
        return sum(os.path.getsize(p) for p in paths)
    except OSError:
        return None


def input_bytes(df: DataFrame) -> int | None:
    """Total LOCAL file size behind ``df``'s scan, or None when the plan
    has no file scan or its files are remote."""
    return _total_bytes(_local_files(df))


def _scan_units(df: DataFrame, paths: list[str] | None, target: int) -> int | None:
    """Upper bound on the scan's NON-EMPTY partitions, or None when it
    cannot be determined cheaply.

    Byte-range splits of a parquet file cannot split a row group (a task
    reads the row groups whose midpoint falls in its range), so a scan
    floored to N splits of a file with fewer row groups has empty
    partitions and ``getNumPartitions()`` overstates real parallelism.
    Only consulted for narrow scan-rooted plans with fewer files than
    ``target`` — a shuffle-made partitioning is real, and >= target
    files give >= target nonempty tasks at any split size.
    """
    if paths is None or len(paths) >= target:
        return None
    try:
        if "Exchange" in df._jdf.queryExecution().executedPlan().toString():
            return None
    except Exception:
        return None
    units = 0
    for path in paths:
        try:
            st = os.stat(path)
            stamp = (st.st_mtime, st.st_size)
            hit = _ROW_GROUP_CACHE.get(path)
            if hit is not None and hit[0] == stamp:
                n = hit[1]
            else:
                import pyarrow.parquet as pq

                n = pq.ParquetFile(path).metadata.num_row_groups
                _ROW_GROUP_CACHE[path] = (stamp, n)
            units += max(1, n)
        except Exception:
            return None
    return units


def ensure_parallelism(df: DataFrame, fanout_weight: int = 1) -> DataFrame:
    """Repartition iff the input is under-parallelized for fan-out work.

    The target is ceil(input bytes x ``fanout_weight`` /
    :data:`FANOUT_INPUT_BYTES_PER_TASK`) capped at defaultParallelism,
    or defaultParallelism when the input size is unknown.  The partition
    COUNT alone can lie: with the session's scan-parallelism floor
    (``spark.sql.files.minPartitionNum``) a large single-row-group
    parquet file splits into >= target byte-ranges of which all but a
    few are EMPTY.  For scan-rooted plans with fewer files than the
    target, the footers' row-group count bounds the real parallelism
    instead (:func:`_scan_units`, cached).
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    paths = _local_files(df)
    size = _total_bytes(paths)
    target = (
        par
        if size is None
        else _width(size * max(1, fanout_weight), FANOUT_INPUT_BYTES_PER_TASK, par)
    )
    if target <= 1:
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    units = _scan_units(df, paths, target)
    if units is not None and units < target:
        return df.repartition(target)
    return df


def fanout_width(df: DataFrame, fanout_weight: int = 1) -> int | None:
    """Explicit shuffle width for a compute-heavy KEYED repartition, or
    None to leave the width to the planner.

    AQE's partition coalescing sizes post-shuffle partitions by BYTES,
    which under-provisions stages whose per-byte compute is far above
    the scan baseline — the quadratic in-row pair explode of
    ``graph.copurchase_edges`` ran on 5 AQE-coalesced tasks at sf0.1
    (956 ms of an 11 MB input; measured r10) because its 6 MB shuffle
    looks tiny.  An EXPLICIT partition count disables AQE coalescing for
    that exchange, so it is returned only in the small-input regime
    where per-core input is below the 4 MB openCost floor; at real scale
    AQE and conf own the width, and a keyed aggregate is never capped at
    core count on big data.
    """
    size = input_bytes(df)
    if size is None:
        return None
    par = df.sparkSession.sparkContext.defaultParallelism
    if size > 4 * (1 << 20) * par:  # big-data regime: planner owns it
        return None
    return _width(size * max(1, fanout_weight), FANOUT_INPUT_BYTES_PER_TASK, par)


def loop_width(n_rows: int, df: DataFrame) -> int | None:
    """Width for an iterated relation of ``n_rows`` (counted) rows:
    ~:data:`LOOP_ROWS_PER_TASK` rows per task, or None when that reaches
    defaultParallelism (a big graph keeps ambient parallelism)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    width = _width(int(n_rows), LOOP_ROWS_PER_TASK, par)
    return width if width < par else None
