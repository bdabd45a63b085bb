"""In-flight pipeline counters via Spark's Observation API.

A 100 TB curation run needs its gate statistics (rows in, rows dropped,
null rate) WITHOUT paying a second pass — ``df.observe`` attaches
aggregate metrics to the running plan itself: they are computed by the
same tasks that produce the output and cost no extra scan, no extra
action, no cache. This module packages the idiom the engine's pipelines
use (the reference logs its row counts imperatively between steps;
here the counters ride the declarative plan).

    gated, obs = observed_gate(df, keep=F.col("ok"), stage="quality")
    gated.write.parquet(...)          # one action
    stats = gate_stats(obs)           # {'rows_in': ..., 'rows_kept': ...,
                                      #  'rows_dropped': ..., 'drop_rate': ...}
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def observed_gate(
    df: DataFrame, keep: Column, stage: str
) -> tuple[DataFrame, Observation]:
    """Filter ``df`` to rows where ``keep`` holds, observing the gate.

    The observation rides the SAME plan: ``rows_in`` / ``rows_kept``
    are aggregated by the tasks that execute the filter, so reading the
    stats after the first action is free. NULL ``keep`` counts as
    dropped (filter semantics), and the counters agree with that.
    """
    obs = Observation(stage)
    keep_flag = F.when(keep, 1).otherwise(0)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(keep_flag).alias("rows_kept"),
    )
    return observed.filter(keep), obs


def gate_stats(obs: Observation) -> dict:
    """Read the counters (valid after the first action on the gated
    frame) and derive the drop readout."""
    got = obs.get
    rows_in = got["rows_in"]
    kept = got["rows_kept"] or 0
    return {
        "rows_in": rows_in,
        "rows_kept": kept,
        "rows_dropped": rows_in - kept,
        "drop_rate": round((rows_in - kept) / rows_in, 6) if rows_in else 0.0,
    }

