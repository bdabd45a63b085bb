"""NRT refresh / incremental semantics (SURVEY §2.9 ST1-ST6).

The reference's NRT loop re-downloads a 7-day window per dataset and
overwrites an AGOL feature service, guarded by three change-detection
gates (Last-Modified, CRC, publication date) and wrapped in ~1000 lines
of backup/restore because AGOL overwrite is not atomic
(src/core.py:806-880; OverwriteFS.py:1744-2688).

Spark-first translation:
- the 7-day window is an event-time filter (W2);
- Last-Modified/pubDate gates collapse into a HIGH-WATER MARK on the
  event-time column, persisted next to the sink (ST2/ST4);
- the CRC gate is a content fingerprint compare (ST3) — an md5 aggregate,
  not a byte-stream checksum of a temp file;
- non-atomic overwrite + A/B service swap (K6/K7) become an A/B
  directory pair with an atomically-renamed pointer file — readers
  resolve the pointer, so they never observe a partial write. On a real
  cluster this is exactly what Delta/Iceberg commits do; the pointer
  pattern needs no extra dependency and keeps the observable contract
  testable (SURVEY §7.4).

State is tiny (one timestamp/hash per dataset) but keyed, so the same
pattern scales to millions of datasets as a state table.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# High-water-mark state (ST2/ST4)
# ---------------------------------------------------------------------------


def _state_path(sink_dir: str) -> str:
    return os.path.join(sink_dir, "_nrt_state.json")


def load_state(sink_dir: str) -> dict:
    p = _state_path(sink_dir)
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def save_state(sink_dir: str, state: dict) -> None:
    os.makedirs(sink_dir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=sink_dir)
    with os.fdopen(fd, "w") as f:
        json.dump(state, f)
    os.replace(tmp, _state_path(sink_dir))  # atomic on POSIX


def newer_than_watermark(df: DataFrame, ts_col: str, sink_dir: str) -> DataFrame:
    """ST2/ST4: keep only rows with event time strictly above the stored
    high-water mark — the 'source not newer -> skip' gate as a pushed
    predicate (the filter reaches the scan, so unchanged partitions are
    never read when data is time-partitioned)."""
    hwm = load_state(sink_dir).get("high_water_mark")
    if hwm is None:
        return df
    return df.filter(F.col(ts_col) > F.lit(hwm).cast("timestamp"))


# ---------------------------------------------------------------------------
# Content fingerprint gate (ST3)
# ---------------------------------------------------------------------------


def content_fingerprint(df: DataFrame) -> str:
    """Order-insensitive content hash: md5 per row (over a canonical JSON
    rendering), combined by bit_xor per 16-hex half — one aggregate, no
    sort, no driver-side byte stream. The ST3 'CRC equal -> skip' analog.
    """
    hashed = df.select(
        F.md5(F.to_json(F.struct(*[F.col(c) for c in df.columns]))).alias("h")
    )
    row = (
        hashed.select(
            F.conv(F.substring("h", 1, 15), 16, 10).cast("long").alias("a"),
            F.conv(F.substring("h", 17, 15), 16, 10).cast("long").alias("b"),
        )
        .agg(
            F.expr("bit_xor(a)").alias("xa"),
            F.expr("bit_xor(b)").alias("xb"),
            F.count(F.lit(1)).alias("n"),
        )
        .first()
    )
    if row["n"] == 0:
        # empty batch: bit_xor over zero rows is NULL — a stable token,
        # not a NoneType format crash (zero-row robustness sweep, r6)
        return "empty-0"
    return f"{row['xa']:x}-{row['xb']:x}-{row['n']}"


def content_changed(df: DataFrame, sink_dir: str) -> bool:
    """True when the batch's fingerprint differs from the stored one;
    stores the new fingerprint when changed.  Standalone gate only —
    :func:`refresh` deliberately does NOT use this: it must not record a
    fingerprint until the snapshot actually commits."""
    fp = content_fingerprint(df)
    state = load_state(sink_dir)
    if state.get("content_fingerprint") == fp:
        return False
    state["content_fingerprint"] = fp
    save_state(sink_dir, state)
    return True


# ---------------------------------------------------------------------------
# Atomic overwrite via A/B swap (K6/K7/ST6)
# ---------------------------------------------------------------------------

_POINTER = "_CURRENT"


def current_data_dir(sink_dir: str) -> str | None:
    p = os.path.join(sink_dir, _POINTER)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return os.path.join(sink_dir, f.read().strip())


def atomic_overwrite(df: DataFrame, sink_dir: str, fmt: str = "parquet") -> str:
    """K6/K7: write the new snapshot to the idle side of an A/B pair,
    then atomically repoint readers — the blue/green service swap with
    the 500 lines of backup/restore deleted. Readers resolving through
    :func:`read_current` never see a partial write."""
    os.makedirs(sink_dir, exist_ok=True)
    current = current_data_dir(sink_dir)
    side = "b" if (current or "").endswith("a") else "a"
    target_name = f"data_{side}"
    target = os.path.join(sink_dir, target_name)
    df.write.mode("overwrite").format(fmt).save(target)
    fd, tmp = tempfile.mkstemp(dir=sink_dir)
    with os.fdopen(fd, "w") as f:
        f.write(target_name)
    os.replace(tmp, os.path.join(sink_dir, _POINTER))  # the swap
    return target


def read_current(spark: SparkSession, sink_dir: str, fmt: str = "parquet") -> DataFrame:
    cur = current_data_dir(sink_dir)
    if cur is None:
        raise FileNotFoundError(f"no committed snapshot in {sink_dir}")
    return spark.read.format(fmt).load(cur)


# ---------------------------------------------------------------------------
# The NRT refresh (ST1): window + gates + atomic publish
# ---------------------------------------------------------------------------


def refresh(
    df: DataFrame,
    ts_col: str,
    sink_dir: str,
    window_days: int = 7,
    now: str | None = None,
) -> dict:
    """One NRT refresh cycle: trailing-window filter (W2) -> freshness
    gate (ST2/ST4) -> content gate (ST3) -> atomic overwrite (ST6).
    Returns a report of what happened (published / skipped and why)."""
    from ..operators.filters import freshness_window

    windowed = freshness_window(df, ts_col, days=window_days, now=now)
    fresh = newer_than_watermark(windowed, ts_col, sink_dir)
    if fresh.limit(1).count() == 0:
        return {"published": False, "reason": "no rows newer than high-water mark"}
    # Gate WITHOUT mutating state: the stored fingerprint must keep
    # describing the last COMMITTED snapshot until the pointer swap below
    # succeeds — recording it early would make a failed write look
    # already-published and silently skip every retry until the data
    # changes again.
    fp = content_fingerprint(windowed)
    if load_state(sink_dir).get("content_fingerprint") == fp:
        return {"published": False, "reason": "content fingerprint unchanged"}
    target = atomic_overwrite(windowed, sink_dir)
    # commit fingerprint + high-water mark together, after the swap
    row = windowed.agg(F.max(ts_col).alias("mx")).first()
    state = load_state(sink_dir)
    state["content_fingerprint"] = fp
    hwm = None
    if row["mx"] is not None:
        hwm = row["mx"].strftime("%Y-%m-%d %H:%M:%S.%f")
        state["high_water_mark"] = hwm
    save_state(sink_dir, state)
    return {"published": True, "target": target, "high_water_mark": hwm}


def refresh_http_csvp(
    spark: SparkSession,
    url: str,
    sink_dir: str,
    timeout_s: float = 120.0,
    time_col: str = "time",
) -> dict:
    """ST1 + ST2 with a REAL wire exchange (the reference's NRT loop:
    regenerate the trailing-window URL, skip when the server says
    nothing changed, else download and swap — core.py NRT flow +
    data_wrangler's conditional headers):

    1. Conditional GET of the window URL (``erddap_url.nrt_url`` output)
       with ``If-Modified-Since`` from the stored state — a 304 skips
       the cycle without transferring one data byte.
    2. On 200, the csvp body parses through the same parser as the
       chunked connector and publishes via the A/B pointer swap (ST6).
    3. ``Last-Modified`` is recorded only AFTER the swap commits — the
       same don't-record-until-commit discipline as :func:`refresh`, so
       a crash between fetch and publish replays as a plain re-fetch.

    The single-window GET is driver-side by design (the NRT window is
    bounded — days, not the archive); the executor-parallel chunked
    scan (``sources/erddap_http.py``) is the backfill/scale path.
    """
    from ..sources.erddap_http import _read_csvp_text
    from ..sources.http_fetch import fetch_if_modified

    state = load_state(sink_dir)
    body, lm = fetch_if_modified(
        url, state.get("last_modified"), timeout_s=timeout_s
    )
    if body is None:
        return {"published": False, "reason": "HTTP 304 not modified"}
    pdf = _read_csvp_text(body.decode())
    if len(pdf) == 0:
        return {"published": False, "reason": "window returned no rows"}
    if time_col in pdf.columns:
        # typed time, same as every other ingestion path (review r5: a
        # raw createDataFrame would publish the ISO strings and break
        # the engine-wide typed-time contract for snapshot readers)
        from ..sources.erddap_http import parse_iso_utc_naive

        pdf[time_col] = parse_iso_utc_naive(pdf[time_col])
    df = spark.createDataFrame(pdf)
    if time_col in df.columns:
        # NTZ, not LTZ: the backfill path for the same data (the
        # erddap_csvp_http chunked scan) publishes timestamp_ntz, and a
        # union of snapshot + backfill must not hit a flavor mismatch
        df = df.withColumn(time_col, F.col(time_col).cast("timestamp_ntz"))
    target = atomic_overwrite(df, sink_dir)
    state = load_state(sink_dir)
    if lm is not None:
        state["last_modified"] = lm
        save_state(sink_dir, state)
    return {
        "published": True,
        "target": target,
        "rows": len(pdf),
        "last_modified": lm,
    }


def refresh_many(
    datasets: dict[str, DataFrame],
    ts_col: str,
    sink_root: str,
    window_days: int = 7,
    now: str | None = None,
    max_workers: int = 4,
) -> dict[str, dict]:
    """ST1 across a fleet of datasets — the reference's
    ``ProcessPoolExecutor(max_workers=4)`` NRT loop (core.py:832-855).

    Spark jobs are submitted from ``max_workers`` threads (job submission
    is thread-safe; tasks from concurrent jobs interleave on the
    executors, which is exactly what the reference's process pool was
    approximating). Per-dataset failures are isolated into the report,
    not raised — one bad dataset never kills the fleet (O13).
    """
    import os as _os
    from concurrent.futures import ThreadPoolExecutor

    def one(item: tuple[str, DataFrame]) -> tuple[str, dict]:
        ds, df = item
        try:
            return ds, refresh(
                df, ts_col, _os.path.join(sink_root, ds), window_days, now
            )
        except Exception as e:  # noqa: BLE001 — isolate per-dataset failure
            return ds, {"published": False, "reason": f"error: {e}"}

    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        return dict(pool.map(one, datasets.items()))

