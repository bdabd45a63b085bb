"""Chunked raster store for gridded output (K5 — VERDICT r5 #5).

The reference publishes griddap NetCDF as AGOL imagery layers
(``copy_raster``, agol_wrangler.py:235-472: latitude flipped to
north->south, WKID 4326, nodata configured).  The engine's long-form
grid (one row per cell) is the right ANALYTIC layout, but map/imagery
consumers need the raster layout back: fixed-size 2-D tiles per
(variable, time[, level]) addressed by block coordinates — the shape
shared by Zarr chunks and COG tiles.

Layout under ``root`` (all Python-side I/O through the
:mod:`.fsio` seam — local path, fsspec scheme, or registered store)::

    _raster_meta.json                     lattice + tiling + manifest
    <var>/<slice>/tile_<ty>_<tx>.f64      raw float64-LE tile block,
                                          row-major, row 0 = NORTHERNMOST
                                          (the reference's lat flip)

Write path is PARTITION-PARALLEL: cells shuffle once on the tile key
``(var, slice, ty, tx)`` and each task assembles + writes its own tiles
(``applyInPandas`` group = one tile), returning one manifest row per
tile; the driver writes only the metadata document (O(tiles) rows, no
pixel ever crosses the driver).  Missing cells and NaN values are
stored as ``nodata`` and surface as NULL on readback.

The source is evaluated ONCE: the writer pins ``cells``
(``MEMORY_AND_DISK``, unless the caller already cached it) and derives
the lattice (axis origin/step/size) with one aggregate over the pinned
cells — two axis sets, bounded by axis length, not cell count — whose
job also fills the cache, so a griddap HTTP source is fetched and
decoded once and the tile write reads from memory.  The pin is released
before the call returns.  Same metadata-not-data discipline as the
chunk planner (O4).
"""

from __future__ import annotations

import json
from collections.abc import Collection
from dataclasses import dataclass

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.lifecycle import pinned
from .fsio import for_path, snapshot_registry

WKID = 4326  # the reference pins WGS84 (agol_wrangler.py copy_raster)
_META = "_raster_meta.json"


def _path_slug(s: str) -> str:
    """Path-safe directory name for a var/slice value: F7 sanitization
    plus an md5 tag whenever sanitization changed anything, so two
    DISTINCT values can never collide onto one tile file (review r6:
    'a b' vs 'a:b' both sanitize to 'a_b'; a var containing '/' would
    escape the layout).  The manifest stores the RAW value; the slug is
    only the storage address."""
    import hashlib

    clean = "".join(ch if ch.isalnum() or ch in "._-" else "_" for ch in s)
    if clean == s and s not in ("", ".", ".."):
        return clean
    return f"{clean}-{hashlib.md5(s.encode()).hexdigest()[:8]}"


#: relative step-spread tolerance under which a float-noisy axis still
#: counts as uniform (0.049999…-style griddap steps — VERDICT r6 #4; the
#: reference ingests any axis, agol_wrangler.py:235-261)
AXIS_REL_TOL = 1e-6


@dataclass(frozen=True)
class Lattice:
    lat0: float  # northernmost latitude (row 0 — the lat flip)
    lon0: float  # westernmost longitude (col 0)
    dlat: float  # positive step between adjacent rows (southward)
    dlon: float
    n_lat: int
    n_lon: int
    #: explicit axis values (row-0-first / col-0-first) whenever the axis
    #: is NOT exactly uniform — noisy-uniform and irregular axes round-trip
    #: through these instead of origin+step arithmetic
    lats: tuple[float, ...] | None = None
    lons: tuple[float, ...] | None = None
    #: False when an axis is irregular beyond AXIS_REL_TOL — index
    #: assignment then uses a broadcast axis join, not arithmetic
    lat_uniform: bool = True
    lon_uniform: bool = True


def _axis(
    values: Collection[float], descending: bool
) -> tuple[float, float, int, tuple[float, ...] | None, bool]:
    """One axis -> (origin, step, n, explicit_values_or_None, uniform).

    Three regimes (reference ingests all of them):
    - exactly uniform: origin+step arithmetic both ways, no axis stored;
    - noisy-uniform (step spread within AXIS_REL_TOL relative): arithmetic
      index on write (noise << step/2 so nearest-int is exact), explicit
      values kept for bit-exact readback;
    - irregular: index = rank in the sorted axis, via broadcast join.
    """
    if not values:
        raise ValueError("empty lattice: no distinct axis values")
    vs = sorted(values, reverse=descending)
    if len(vs) < 2:
        return vs[0], 1.0, 1, None, True
    steps = [abs(b - a) for a, b in zip(vs, vs[1:])]
    lo, hi = min(steps), max(steps)
    if lo == hi:
        return vs[0], hi, len(vs), None, True
    mean = abs(vs[-1] - vs[0]) / (len(vs) - 1)
    if hi - lo <= AXIS_REL_TOL * mean:
        return vs[0], mean, len(vs), tuple(vs), True
    return vs[0], mean, len(vs), tuple(vs), False


def derive_lattice(cells: DataFrame, lat_col: str, lon_col: str) -> Lattice:
    """Lattice of ``cells`` from one aggregate job: both axis value sets
    plus a count of null/NaN coordinates per axis.  A null/NaN coordinate
    has no lattice position: ``ValueError`` naming its column."""

    def bad(c: str):
        return F.count_if(F.col(c).isNull() | F.isnan(c))

    row = cells.agg(
        F.collect_set(lat_col), F.collect_set(lon_col), bad(lat_col), bad(lon_col)
    ).first()
    for col, n_bad in ((lat_col, row[2]), (lon_col, row[3])):
        if n_bad:
            raise ValueError(
                f"lattice column {col!r} holds {n_bad} null/NaN value(s)"
            )
    # collect_set dedups -0.0 against 0.0 but may keep either one; +0.0
    # folds it to 0.0, the value a grouping (distinct) would surface
    lats = {v + 0.0 for v in row[0]}
    lons = {v + 0.0 for v in row[1]}
    lat0, dlat, n_lat, lat_vals, lat_u = _axis(lats, descending=True)  # north first
    lon0, dlon, n_lon, lon_vals, lon_u = _axis(lons, descending=False)
    return Lattice(
        lat0, lon0, dlat, dlon, n_lat, n_lon,
        lats=lat_vals, lons=lon_vals,
        lat_uniform=lat_u, lon_uniform=lon_u,
    )


def _write_tiles(
    cells: DataFrame,
    lattice: Lattice,
    root: str,
    var_col: str,
    slice_cols: tuple[str, ...],
    lat_col: str,
    lon_col: str,
    value_col: str,
    tile_h: int,
    tile_w: int,
    nodata: float,
) -> list:
    """Stamp each cell with its tile key and write the tiles, one
    ``applyInPandas`` group per tile; returns the manifest rows."""
    spark = cells.sparkSession
    if lattice.lat_uniform:
        iy = F.round(
            (F.lit(lattice.lat0) - F.col(lat_col)) / F.lit(lattice.dlat)
        ).cast("int")
    else:
        # irregular axis: index = rank in the sorted axis, joined in via a
        # broadcast map (axis-length-bounded; values came from the data so
        # exact float equality holds)
        lat_map = F.broadcast(
            spark.createDataFrame(
                [(v, i) for i, v in enumerate(lattice.lats)],
                f"{lat_col} double, __iy int",
            )
        )
        cells = cells.join(lat_map, on=lat_col, how="inner")
        iy = F.col("__iy")
    if lattice.lon_uniform:
        ix = F.round(
            (F.col(lon_col) - F.lit(lattice.lon0)) / F.lit(lattice.dlon)
        ).cast("int")
    else:
        lon_map = F.broadcast(
            spark.createDataFrame(
                [(v, i) for i, v in enumerate(lattice.lons)],
                f"{lon_col} double, __ix int",
            )
        )
        cells = cells.join(lon_map, on=lon_col, how="inner")
        ix = F.col("__ix")
    # the slice separator is escaped INSIDE each value first, so a value
    # containing '|' can never collide with a multi-column combination
    # (review r6: ('a','b') vs ('a|b',))
    slice_key = F.concat_ws(
        "|",
        *[
            F.regexp_replace(
                F.coalesce(F.col(c).cast("string"), F.lit("na")), r"\|", "%7C"
            )
            for c in slice_cols
        ],
    )
    stamped = cells.select(
        F.col(var_col).alias("var"),
        slice_key.alias("slice"),
        iy.alias("iy"),
        ix.alias("ix"),
        (iy / tile_h).cast("int").alias("ty"),
        (ix / tile_w).cast("int").alias("tx"),
        F.col(value_col).cast("double").alias("v"),
    )

    th, tw, nd, root_str = tile_h, tile_w, nodata, root
    # driver-side capture: registered schemes resolve inside the
    # executor Python workers through the task closure (ADVICE r6)
    fsreg = snapshot_registry()

    def build_tile(pdf):
        import pandas as pd

        var = pdf["var"].iloc[0]
        sl = pdf["slice"].iloc[0]
        ty, tx = int(pdf["ty"].iloc[0]), int(pdf["tx"].iloc[0])
        block = np.full((th, tw), nd, dtype=np.float64)
        ry = pdf["iy"].to_numpy() - ty * th
        rx = pdf["ix"].to_numpy() - tx * tw
        vals = pdf["v"].to_numpy(dtype=np.float64)
        vals = np.where(np.isnan(vals), nd, vals)
        block[ry, rx] = vals
        fs, r = for_path(root_str, registry=fsreg)
        vdir, sdir = _path_slug(str(var)), _path_slug(sl)
        d = fs.join(r, vdir, sdir)
        fs.makedirs(d)
        fname = f"tile_{ty:04d}_{tx:04d}.f64"
        with fs.open(fs.join(d, fname), "wb") as f:
            f.write(block.tobytes())  # little-endian f64, row-major
        return pd.DataFrame(
            [
                {
                    "var": var,
                    "slice": sl,
                    "ty": ty,
                    "tx": tx,
                    "path": f"{vdir}/{sdir}/{fname}",
                    "n_cells": int(len(pdf)),
                }
            ]
        )

    return (
        stamped.groupBy("var", "slice", "ty", "tx")
        .applyInPandas(
            build_tile,
            schema="var string, slice string, ty int, tx int, "
            "path string, n_cells long",
        )
        .collect()
    )


def write_raster_tiles(
    cells: DataFrame,
    root: str,
    var_col: str = "var",
    slice_cols: tuple[str, ...] = ("time",),
    lat_col: str = "lat",
    lon_col: str = "lon",
    value_col: str = "value",
    tile_h: int = 4,
    tile_w: int = 4,
    nodata: float = -9999.0,
) -> dict:
    """Long-form cells -> tiled raster store; returns the metadata doc.

    ``slice_cols`` are the non-spatial dimensions (time, level) — one
    2-D tile grid per distinct combination.  Values equal to ``nodata``
    must not occur as real data (the reference's copy_raster carries the
    same caveat).
    """
    # pin the source for the call so the lattice job and the tile write
    # share ONE evaluation (a griddap HTTP source otherwise re-fetches
    # every division URL per action)
    with pinned(cells, StorageLevel.MEMORY_AND_DISK):
        lattice = derive_lattice(cells, lat_col, lon_col)
        manifest_rows = _write_tiles(
            cells, lattice, root, var_col, slice_cols, lat_col, lon_col,
            value_col, tile_h, tile_w, nodata,
        )
    meta = {
        "wkid": WKID,
        "nodata": nodata,
        "tile_h": tile_h,
        "tile_w": tile_w,
        "lat0": lattice.lat0,
        "lon0": lattice.lon0,
        "dlat": lattice.dlat,
        "dlon": lattice.dlon,
        "n_lat": lattice.n_lat,
        "n_lon": lattice.n_lon,
        # explicit axes present only for noisy/irregular lattices — the
        # readback then reconstructs the EXACT input coordinates instead
        # of origin+step ideals (exactly-uniform manifests stay lean)
        **({"lats": list(lattice.lats)} if lattice.lats else {}),
        **({"lons": list(lattice.lons)} if lattice.lons else {}),
        "slice_cols": list(slice_cols),
        "tiles": [
            {
                "var": r["var"],
                "slice": r["slice"],
                "ty": r["ty"],
                "tx": r["tx"],
                "path": r["path"],
                "n_cells": r["n_cells"],
            }
            for r in sorted(
                manifest_rows, key=lambda r: (r["var"], r["slice"], r["ty"], r["tx"])
            )
        ],
    }
    fs, r = for_path(root)
    fs.makedirs(r)
    # manifest LAST — its presence is the commit marker (same discipline
    # as the GeoJSON committer and the snapshot tables)
    fs.write_atomic(fs.join(r, _META), json.dumps(meta))
    return meta


def read_raster_meta(root: str) -> dict:
    fs, r = for_path(root)
    with fs.open(fs.join(r, _META)) as f:
        return json.load(f)


def read_raster_tiles(spark: SparkSession, root: str) -> DataFrame:
    """Raster store -> long-form cells ``(var, slice, lat, lon, value)``;
    nodata cells surface as NULL.  One scan task per tile batch
    (``mapInPandas`` over the manifest), decode is a numpy reshape —
    partition-parallel, no pixel through the driver."""
    meta = read_raster_meta(root)
    man = spark.createDataFrame(
        [
            (t["var"], t["slice"], t["ty"], t["tx"], t["path"])
            for t in meta["tiles"]
        ],
        "var string, slice string, ty int, tx int, path string",
    )
    th, tw = meta["tile_h"], meta["tile_w"]
    lat0, lon0 = meta["lat0"], meta["lon0"]
    dlat, dlon = meta["dlat"], meta["dlon"]
    n_lat, n_lon = meta["n_lat"], meta["n_lon"]
    nd, root_str = meta["nodata"], root
    fsreg = snapshot_registry()
    # noisy/irregular lattices carry the exact axis values; index->coord
    # is then an array lookup instead of origin+step arithmetic
    lat_axis = np.asarray(meta["lats"]) if "lats" in meta else None
    lon_axis = np.asarray(meta["lons"]) if "lons" in meta else None

    def decode(batches):
        import pandas as pd

        fs, r = for_path(root_str, registry=fsreg)
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                with fs.open(fs.join(r, row["path"]), "rb") as f:
                    block = np.frombuffer(f.read(), dtype=np.float64).reshape(
                        th, tw
                    )
                ys, xs = np.meshgrid(range(th), range(tw), indexing="ij")
                iy = row["ty"] * th + ys.ravel()
                ix = row["tx"] * tw + xs.ravel()
                v = block.ravel()
                keep = (iy < n_lat) & (ix < n_lon)  # edge-tile padding
                out.append(
                    pd.DataFrame(
                        {
                            "var": row["var"],
                            "slice": row["slice"],
                            "lat": (
                                lat_axis[iy[keep]]
                                if lat_axis is not None
                                else lat0 - iy[keep] * dlat
                            ),
                            "lon": (
                                lon_axis[ix[keep]]
                                if lon_axis is not None
                                else lon0 + ix[keep] * dlon
                            ),
                            "value": np.where(
                                v[keep] == nd, np.nan, v[keep]
                            ),
                        }
                    )
                )
            yield pd.concat(out) if out else pd.DataFrame(
                columns=["var", "slice", "lat", "lon", "value"]
            )

    cells = man.mapInPandas(
        decode, schema="var string, slice string, lat double, lon double, value double"
    )
    # NaN (the in-flight nodata marker) -> NULL, the engine-wide missing
    # convention for grid cells
    return cells.withColumn(
        "value", F.when(F.isnan("value"), None).otherwise(F.col("value"))
    )
