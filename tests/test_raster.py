"""Chunked raster store (K5, sinks/raster.py): tile orientation,
nodata round-trip, edge padding, manifest commit marker."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark import StorageLevel

from erddap2agol_spark.sinks import raster


@pytest.fixture()
def cells(spark):
    # 3 lat x 5 lon grid, one slice; value = iy*10 + ix from the NORTH
    # (lat 30 is row 0), one NaN hole at (iy=1, ix=2)
    rows = []
    for iy, lat in enumerate([30.0, 29.0, 28.0]):
        for ix, lon in enumerate([-95.0, -94.0, -93.0, -92.0, -91.0]):
            v = float("nan") if (iy, ix) == (1, 2) else float(iy * 10 + ix)
            rows.append(("sst", "2024-03-01", lat, lon, v))
    return spark.createDataFrame(
        rows, "var string, t string, lat double, lon double, value double"
    )


def test_tile_block_orientation_north_first(spark, cells, tmp_path):
    """Row 0 of tile (0, 0) must be the NORTHERNMOST latitude (the
    reference's lat flip, agol_wrangler.py:235-261) — asserted on the
    raw block bytes, not through the reader (a shared indexing error in
    writer+reader would cancel out in a round-trip)."""
    root = str(tmp_path / "r")
    meta = raster.write_raster_tiles(
        cells, root, slice_cols=("t",), tile_h=2, tile_w=3
    )
    t00 = next(
        t for t in meta["tiles"] if (t["ty"], t["tx"]) == (0, 0)
    )
    block = np.frombuffer(
        open(os.path.join(root, t00["path"]), "rb").read(), dtype=np.float64
    ).reshape(2, 3)
    # north-west corner = (iy=0, ix=0) = 0.0; row 1 starts at iy=1 -> 10
    assert block[0, 0] == 0.0 and block[0, 2] == 2.0
    assert block[1, 0] == 10.0
    # the NaN hole landed as nodata in tile (0,0)? (iy=1, ix=2) is in
    # this tile (rows 0-1, cols 0-2)
    assert block[1, 2] == meta["nodata"]
    assert meta["wkid"] == 4326


def test_roundtrip_values_nodata_and_edge_padding(spark, cells, tmp_path):
    root = str(tmp_path / "r")
    raster.write_raster_tiles(cells, root, slice_cols=("t",), tile_h=2, tile_w=3)
    back = raster.read_raster_tiles(spark, root)
    got = {(r["lat"], r["lon"]): r["value"] for r in back.collect()}
    # exactly the lattice positions, no edge-tile padding rows
    assert len(got) == 15
    assert got[(30.0, -95.0)] == 0.0
    assert got[(28.0, -91.0)] == 24.0
    assert got[(29.0, -93.0)] is None  # the NaN hole -> nodata -> NULL


def test_manifest_is_commit_marker(spark, cells, tmp_path):
    root = str(tmp_path / "r")
    raster.write_raster_tiles(cells, root, slice_cols=("t",), tile_h=2, tile_w=3)
    meta = json.load(open(os.path.join(root, "_raster_meta.json")))
    assert meta["n_lat"] == 3 and meta["n_lon"] == 5
    assert len(meta["tiles"]) == 4  # ceil(3/2) x ceil(5/3)
    assert sum(t["n_cells"] for t in meta["tiles"]) == 15


def test_irregular_axis_roundtrips_exact_coordinates(spark, tmp_path):
    """VERDICT r6 #4: an irregular axis (real griddap grids have them;
    the reference ingests any axis, agol_wrangler.py:235-261) is stored
    with explicit axis values in the manifest and round-trips the EXACT
    input coordinates."""
    lats = [30.0, 29.0, 27.5]  # steps 1.0, 1.5 — genuinely irregular
    lons = [-95.0, -94.9, -94.7]  # steps 0.1, 0.2
    rows = [
        ("v", "t0", lat, lon, float(iy * 10 + ix))
        for iy, lat in enumerate(lats)
        for ix, lon in enumerate(lons)
    ]
    cells = spark.createDataFrame(
        rows, "var string, t string, lat double, lon double, value double"
    )
    root = str(tmp_path / "r")
    meta = raster.write_raster_tiles(
        cells, root, slice_cols=("t",), tile_h=2, tile_w=2
    )
    assert meta["lats"] == lats and meta["lons"] == lons
    back = raster.read_raster_tiles(spark, root)
    got = {(r["lat"], r["lon"]): r["value"] for r in back.collect()}
    assert len(got) == 9
    assert got[(30.0, -95.0)] == 0.0  # row 0 = northernmost
    assert got[(27.5, -94.7)] == 22.0
    assert got[(29.0, -94.9)] == 11.0


def test_noisy_uniform_axis_roundtrips_exact_coordinates(spark, tmp_path):
    """A float-noisy uniform lattice (0.049999...-style steps within
    AXIS_REL_TOL) keeps arithmetic tile indexing but reads back the
    exact noisy coordinates from the manifest axes."""
    lats = [30.0, 29.95000001, 29.9, 29.84999999, 29.8]
    lons = [-95.0, -94.0]
    rows = [
        ("v", "t0", lat, lon, float(iy * 10 + ix))
        for iy, lat in enumerate(lats)
        for ix, lon in enumerate(lons)
    ]
    cells = spark.createDataFrame(
        rows, "var string, t string, lat double, lon double, value double"
    )
    root = str(tmp_path / "r")
    meta = raster.write_raster_tiles(
        cells, root, slice_cols=("t",), tile_h=4, tile_w=4
    )
    assert meta["lats"] == lats  # noisy axis persisted exactly
    assert "lons" not in meta  # exactly-uniform axis stays lean
    back = raster.read_raster_tiles(spark, root)
    got = {(r["lat"], r["lon"]): r["value"] for r in back.collect()}
    assert set(lat for lat, _ in got) == set(lats)  # exact reconstruction
    assert got[(29.95000001, -94.0)] == 11.0
    assert got[(29.84999999, -95.0)] == 30.0


def test_empty_lattice_raises_value_error(spark, tmp_path):
    """ADVICE r6: an empty/all-filtered cells frame must fail with a
    clear ValueError, not a bare IndexError."""
    empty = spark.createDataFrame(
        [], "var string, t string, lat double, lon double, value double"
    )
    with pytest.raises(ValueError, match="empty lattice"):
        raster.write_raster_tiles(empty, str(tmp_path / "r"), slice_cols=("t",))


def test_path_hostile_slice_values_do_not_collide(spark, tmp_path):
    """Review r6: two slice values that sanitize identically ('a b' vs
    'a:b') must land in DISTINCT tile files, and both read back with
    their own pixels."""
    rows = []
    for sl, base in (("a b", 1.0), ("a:b", 100.0)):
        for ix, lon in enumerate([-95.0, -94.0]):
            rows.append(("v", sl, 30.0, lon, base + ix))
    cells = spark.createDataFrame(
        rows, "var string, t string, lat double, lon double, value double"
    )
    root = str(tmp_path / "r")
    meta = raster.write_raster_tiles(
        cells, root, slice_cols=("t",), tile_h=1, tile_w=2
    )
    paths = {t["path"] for t in meta["tiles"]}
    assert len(paths) == 2  # distinct files despite identical sanitization
    back = raster.read_raster_tiles(spark, root)
    got = {(r["slice"], r["lon"]): r["value"] for r in back.collect()}
    assert got[("a b", -95.0)] == 1.0 and got[("a:b", -95.0)] == 100.0


def test_separator_in_slice_value_cannot_collide(spark, tmp_path):
    """('a','b') as two slice columns vs a single value 'a|b' must be
    two different slices (the separator is escaped inside values)."""
    cells = spark.createDataFrame(
        [("v", "a", "b", 30.0, -95.0, 1.0), ("v2", "a|b", "x", 30.0, -95.0, 2.0)],
        "var string, s1 string, s2 string, lat double, lon double, value double",
    )
    meta = raster.write_raster_tiles(
        cells, str(tmp_path / "r"), slice_cols=("s1", "s2"), tile_h=1, tile_w=1
    )
    slices = {t["slice"] for t in meta["tiles"]}
    assert slices == {"a|b", "a%7Cb|x"}


def _distinct_lattice(cells):
    """Reference axes from a grouping-based ``distinct()`` per axis."""
    lats = [r[0] for r in cells.select("lat").distinct().collect()]
    lons = [r[0] for r in cells.select("lon").distinct().collect()]
    return raster._axis(lats, descending=True), raster._axis(lons, descending=False)


def test_signed_zero_axis_matches_distinct_lattice(spark):
    """An axis through 0 holding both -0.0 and 0.0 is ONE lattice
    position carrying +0.0, exactly as the grouping-based distinct()
    path saw it — collect_set may keep -0.0 as the set's representative,
    which would leak ``-0.0`` into the origin and manifest axes.  Fields
    compare by repr because -0.0 == 0.0."""
    rows = [
        ("v", "t0", lat, lon, 1.0)
        for lat in (1.0, -0.0, 0.0, -2.0)  # irregular: explicit axis
        for lon in (-0.0, 0.0, 1.0, 2.0)  # uniform, zero is the origin
    ]
    cells = spark.createDataFrame(
        rows, "var string, t string, lat double, lon double, value double"
    )
    lat_axis, lon_axis = _distinct_lattice(cells)
    got = raster.derive_lattice(cells, "lat", "lon")
    lat_got = (got.lat0, got.dlat, got.n_lat, got.lats, got.lat_uniform)
    lon_got = (got.lon0, got.dlon, got.n_lon, got.lons, got.lon_uniform)
    assert repr(lat_got) == repr(lat_axis) and repr(lon_got) == repr(lon_axis)
    assert got.lats == (1.0, 0.0, -2.0) and repr(got.lon0) == "0.0"


@pytest.mark.parametrize(
    "col, bad", [("lat", None), ("lat", float("nan")), ("lon", None), ("lon", float("nan"))]
)
def test_null_or_nan_coordinate_raises_naming_the_column(spark, tmp_path, col, bad):
    """A null/NaN coordinate has no lattice position: a ValueError that
    names the column, not a TypeError out of sorted() or a lattice built
    around NaN — and the writer's pin is released on the way out."""
    rows = [("v", "t0", 30.0, -95.0, 1.0), ("v", "t0", 29.0, -94.0, 2.0)]
    rows.append(("v", "t0", bad if col == "lat" else 28.0,
                 bad if col == "lon" else -93.0, 3.0))
    cells = spark.createDataFrame(
        rows, "var string, t string, lat double, lon double, value double"
    )
    with pytest.raises(ValueError, match=f"'{col}'"):
        raster.write_raster_tiles(cells, str(tmp_path / "r"), slice_cols=("t",))
    assert cells.storageLevel == StorageLevel.NONE
