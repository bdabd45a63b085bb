"""Custom stateful streaming operators (SURVEY guide: Structured
Streaming + ``applyInPandasWithState`` for operators Spark lacks).

``stateful_dedup_stream`` is exactly-once first-occurrence dedup ACROSS
microbatches: per-key boolean state in the state store, first row per
key emitted, everything later (same batch or any future batch) dropped.
This is the streaming form of the content-hash skip (ST3) — the state
store scales keyed state horizontally, checkpointing makes it restart-
safe, and a watermark on the key's event time would bound state for
expiring keys.

``stuck_run_alerts`` is the stuck-sensor run detector, the QC state
machine the reference's NRT loop implies but cannot express (its CRC
gate, src/utils/OverwriteFS.py, only detects *identical whole files*):
a per-station detector for a sensor reporting the SAME value over and
over (ice on an anemometer, a wedged ADC). The run length must survive
microbatch boundaries — exactly what keyed state is for.
``advance_run_state`` is its pure-Python transition function.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T


def stateful_dedup_stream(
    stream: DataFrame, key_col: str
) -> DataFrame:
    """First-occurrence dedup over a streaming DataFrame, keyed by
    ``key_col``. Output schema == input schema. Batch-mode DataFrames
    are rejected by Spark (streaming only)."""
    out_schema = stream.schema
    state_schema = T.StructType([T.StructField("seen", T.BooleanType())])

    def dedup_fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            for _ in pdfs:  # drain; key already emitted in a past batch
                pass
            return
        emitted = False
        for pdf in pdfs:
            if not emitted and len(pdf):
                state.update((True,))
                yield pdf.iloc[[0]]
                emitted = True
        # key seen with zero rows can't happen (groups are non-empty)

    return stream.groupBy(key_col).applyInPandasWithState(
        dedup_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_max_stream(stream: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Per-key running maximum across microbatches — the keyed
    high-water-mark pattern (ST2/ST4) as explicit state: emits one row
    per key per batch with the all-time max."""
    out_schema = T.StructType(
        [
            T.StructField(key_col, stream.schema[key_col].dataType),
            T.StructField("running_max", T.DoubleType()),
        ]
    )
    state_schema = T.StructType([T.StructField("mx", T.DoubleType())])

    def max_fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        mx = state.get[0] if state.exists else None
        for pdf in pdfs:
            if len(pdf):
                m = float(pdf[value_col].max())
                mx = m if mx is None else max(mx, m)
        if mx is not None:
            state.update((mx,))
            yield pd.DataFrame({key_col: [key[0]], "running_max": [mx]})

    return stream.groupBy(key_col).applyInPandasWithState(
        max_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: stuck-run state tuple: (last_v, run_len, alerted)
RunState = tuple[float | None, int, bool]

_EMPTY: RunState = (None, 0, False)


def advance_run_state(
    state: RunState, values: Iterator[float], min_run: int
) -> tuple[RunState, list[tuple[float, int]]]:
    """Advance the run-length machine over ``values``; return the new
    state and the alerts fired — ``(value, run_len)`` at the moment a run
    first reaches ``min_run``. The ``alerted`` latch stops an ongoing run
    from re-alerting every batch; any value change resets it."""
    last_v, run_len, alerted = state
    alerts: list[tuple[float, int]] = []
    for v in values:
        v = float(v)
        if last_v is not None and v == last_v:
            run_len += 1
        else:
            last_v, run_len, alerted = v, 1, False
        if run_len >= min_run and not alerted:
            alerts.append((v, run_len))
            alerted = True
    return (last_v, run_len, alerted), alerts


def stuck_run_alerts(
    stream: DataFrame,
    key_col: str,
    value_col: str,
    order_col: str,
    min_run: int = 3,
) -> DataFrame:
    """Alert once per stuck-value run of length >= ``min_run`` per key.

    Output: ``(k, stuck_value, run_len)`` — one row at the moment a run
    crosses the threshold. Rows are scanned in ``order_col`` order within
    each batch (cross-batch order is arrival order — the streaming
    contract). State is one ``(last_v, run_len, alerted)`` tuple per key
    and never expires.
    """
    out_schema = T.StructType(
        [
            T.StructField("k", stream.schema[key_col].dataType),
            T.StructField("stuck_value", T.DoubleType()),
            T.StructField("run_len", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_v", T.DoubleType()),
            T.StructField("run_len", T.LongType()),
            T.StructField("alerted", T.BooleanType()),
        ]
    )

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        st: RunState = tuple(state.get) if state.exists else _EMPTY
        fired: list[tuple] = []
        # a large group arrives as MULTIPLE Arrow chunks in partition
        # order; sorting per chunk would scan out of order across the
        # chunk boundary, so collect the batch's rows and sort ONCE
        # (state is per (key, batch): bounded by the micro-batch)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            whole = (
                chunks[0] if len(chunks) == 1 else pd.concat(chunks)
            ).sort_values(order_col)
            st, alerts = advance_run_state(
                st, whole[value_col].astype(float), min_run
            )
            fired.extend((key[0], v, n) for v, n in alerts)
        state.update(st)
        if fired:
            yield pd.DataFrame(fired, columns=["k", "stuck_value", "run_len"])

    return stream.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
