"""Griddap grid model (SURVEY §1.1, §2.1 S7, §2.3 P5, §2.7 T2, §7.4).

Spark has no native tensor type; the idiomatic mapping for a
``var[time, (alt), lat, lon]`` grid is the LONG FORM — one row per cell
``(time, lat, lon, depth, var, value)`` — partitioned by time so
hyperslab time selectors become partition pruning. The explosion factor
SURVEY §7.4 warns about is contained by (a) pushing hyperslab predicates
into the scan, (b) keeping measures as separate columns until a melt is
requested.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.lifecycle import truncate_lineage


def melt_measures(df: DataFrame, dims: Sequence[str], measures: Sequence[str]) -> DataFrame:
    """S7: wide measure columns -> long (var, value) pairs via ``stack``
    (the NetCDF variable explode, JVM-side, no shuffle)."""
    n = len(measures)
    stack_args = ", ".join(f"'{m}', `{m}`" for m in measures)
    return df.selectExpr(*dims, f"stack({n}, {stack_args}) AS (var, value)")


def hyperslab(
    df: DataFrame,
    time_col: str,
    lat_col: str,
    lon_col: str,
    time_range: tuple[str, str] | None = None,
    lat_range: tuple[float, float] | None = None,
    lon_range: tuple[float, float] | None = None,
    time_stride: int = 1,
    time_index: Column | None = None,
) -> DataFrame:
    """P5: the ``[(t0):stride:(t1)][(lat0):1:(lat1)][(lon0):1:(lon1)]``
    selector as pushed range predicates plus a stride filter.

    Stride semantics: keep every ``time_stride``-th time step. With a
    known lattice, pass ``time_index`` (an arithmetic index column —
    cheap, pushdown-friendly). Without one, the distinct time steps are
    numbered with the range-partitioned row-number form (no
    single-partition window anywhere — VERDICT r5 #7) and the selected
    steps broadcast back; the extra cost is one distinct aggregate over
    the time column.
    """
    out = df
    if time_range is not None:
        out = out.filter(
            F.col(time_col).between(
                F.lit(time_range[0]).cast("timestamp"),
                F.lit(time_range[1]).cast("timestamp"),
            )
        )
    if lat_range is not None:
        out = out.filter(F.col(lat_col).between(*lat_range))
    if lon_range is not None:
        out = out.filter(F.col(lon_col).between(*lon_range))
    if time_stride > 1:
        if time_index is not None:
            out = out.filter(time_index % time_stride == 0)
        else:
            from .windows import _ranged_row_number

            # distinct rows: row_number == dense_rank, so the scalable
            # ranged numbering reproduces the rank-based step index
            # without moving all steps to one partition.  The distinct
            # step table materializes ONCE (review r6): the ranged
            # numbering takes three driver actions (count + split-point
            # sample + per-range counts), each of which would otherwise
            # re-execute the full distinct-over-cells lineage.
            steps = _ranged_row_number(
                truncate_lineage(out.select(time_col).distinct()),
                [time_col],
                "__step",
            ).withColumn("__step", F.col("__step") - 1)
            out = out.join(
                F.broadcast(steps.filter(F.col("__step") % time_stride == 0)),
                time_col,
            ).drop("__step")
    return out


def first_altitude_slice(df: DataFrame, alt_col: str) -> DataFrame:
    """Reference behavior: altitude selector pinned to the first level
    (``[0]``, src/data_wrangler.py:410-421) — here the minimum level,
    computed once and broadcast."""
    mn = df.agg(F.min(alt_col).alias("__mn"))
    return (
        df.crossJoin(F.broadcast(mn))
        .filter(F.col(alt_col) == F.col("__mn"))
        .drop("__mn")
    )


def north_south_order(df: DataFrame, time_col: str, lat_col: str, lon_col: str) -> DataFrame:
    """T2: normalize latitude to north->south within each time slice for
    grid-file export (the reference reindexes the lat axis,
    src/agol_wrangler.py:235-261). In long form this is a write-time
    sort: repartition by time (file per slice), sort desc(lat), asc(lon).
    """
    return df.repartition(F.col(time_col)).sortWithinPartitions(
        F.col(time_col), F.desc(lat_col), F.col(lon_col)
    )


def write_grid_partitioned(df: DataFrame, time_col: str, path: str) -> None:
    """K5 stand-in: long-form grid to time-partitioned parquet — the
    layout that makes hyperslab time selectors partition-prune."""
    (
        df.withColumn("grid_date", F.date_format(F.col(time_col), "yyyy-MM-dd"))
        .write.mode("overwrite")
        .partitionBy("grid_date")
        .parquet(path)
    )


def bilinear_regrid(
    cells: DataFrame,
    dims: Sequence[str],
    lat_col: str,
    lon_col: str,
    value_col: str,
    lat0: float,
    lon0: float,
    step: float,
    fy: float,
    fx: float,
) -> DataFrame:
    """Bilinear resampling of a regular long-form grid onto a staggered
    target grid (offset ``(fy, fx)`` of a cell, 0 < f < 1) — the
    Arakawa-style re-staggering / half-cell regrid a griddap consumer
    does when aligning two model grids.

    Join-free formulation: instead of looking UP the 4 corners of every
    target point (a 4-way self-join), each SOURCE cell is exploded to the
    at-most-4 target points it supports, tagged with its corner weight
    ((1-fy)(1-fx), fy(1-fx), (1-fy)fx, fy*fx — constants, because both
    grids are uniform), then ONE hash aggregate per target sums w*value.
    Map + explode(4) + aggregate: no join, no window, shuffle keyed on
    the target cell. Targets missing any of their 4 corners (grid edges,
    fill cells) are dropped by the count guard — never silently
    extrapolated.

    ``lat0/lon0/step`` describe the source grid (``lat = lat0 + i*step``);
    indices are recovered with round() so float axis values never drift
    the key.
    """
    w00 = (1.0 - fy) * (1.0 - fx)
    w10 = fy * (1.0 - fx)
    w01 = (1.0 - fy) * fx
    w11 = fy * fx
    iy = F.round((F.col(lat_col) - F.lit(lat0)) / F.lit(step)).cast("bigint")
    ix = F.round((F.col(lon_col) - F.lit(lon0)) / F.lit(step)).cast("bigint")
    # (dy, dx, w): this cell acts as corner (dy, dx) of target (iy-dy, ix-dx)
    corners = F.array(
        *[
            F.struct(
                F.lit(dy).alias("dy"), F.lit(dx).alias("dx"), F.lit(w).alias("w")
            )
            for dy, dx, w in ((0, 0, w00), (1, 0, w10), (0, 1, w01), (1, 1, w11))
        ]
    )
    ex = (
        cells.select(
            *dims,
            iy.alias("iy"),
            ix.alias("ix"),
            F.col(value_col).alias("v"),
            F.explode(corners).alias("c"),
        )
        .select(
            *dims,
            (F.col("iy") - F.col("c.dy")).alias("ty"),
            (F.col("ix") - F.col("c.dx")).alias("tx"),
            (F.col("c.w") * F.col("v")).alias("wv"),
            F.col("v").alias("v"),
        )
    )
    return (
        ex.groupBy(*dims, "ty", "tx")
        .agg(
            F.sum("wv").alias("wv_sum"),
            F.count("v").alias("n_corners"),
        )
        .filter(F.col("n_corners") == 4)
        .select(
            *dims,
            (F.lit(lat0) + (F.col("ty") + F.lit(fy)) * F.lit(step)).alias(lat_col),
            (F.lit(lon0) + (F.col("tx") + F.lit(fx)) * F.lit(step)).alias(lon_col),
            F.round(F.col("wv_sum"), 6).alias(value_col),
        )
    )
