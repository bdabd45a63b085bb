"""Seeded input generators for the three workloads.

Every generator is a pure function of ``(seed, size)``: the same seed
writes byte-identical files (``selfcheck.py`` asserts it).  Sizes are a
fixed ladder and the seed only moves contents, so every seed yields the
same amount of work and the run-to-run spread measures the system, not
the cart.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np

#: tabledap columns served for every wire dataset; the ``*_qc`` columns are
#: what ``operators.projection.metadata_projection`` drops
TABLE_COLUMNS = (
    "time", "latitude", "longitude", "temperature", "salinity",
    "temperature_qc", "salinity_qc",
)
TABLE_HEADER = (
    "time (UTC),latitude (degrees_north),longitude (degrees_east),"
    "temperature (degree_C),salinity (PSU),temperature_qc (1),salinity_qc (1)"
)
TABLE_DDL = (
    "time timestamp_ntz, latitude double, longitude double, temperature double, "
    "salinity double, temperature_qc int, salinity_qc int"
)
#: first sample of every wire dataset
EPOCH = datetime(2024, 3, 1, tzinfo=timezone.utc)


def rng(seed: int, *tags: str) -> np.random.Generator:
    """Independent stream per (seed, tag) so adding a generator never
    shifts another generator's values."""
    h = hashlib.sha256(("/".join((str(seed),) + tags)).encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def iso_times(t: np.ndarray) -> list[str]:
    return [
        (EPOCH + timedelta(seconds=int(s))).strftime("%Y-%m-%dT%H:%M:%SZ")
        for s in t
    ]


def track_rows(g: np.random.Generator, n: int, step_s: int):
    """One glider-like track: a random walk in position, smooth
    temperature/salinity, sparse QC flags.  Values are rounded to the
    precision the csvp text carries, so the parsed doubles equal the
    generator's doubles exactly."""
    t = step_s * np.arange(n, dtype=np.int64)
    lat = np.round(27.0 + np.cumsum(g.normal(0, 0.002, n)), 5)
    lon = np.round(-90.0 + np.cumsum(g.normal(0, 0.002, n)), 5)
    temp = np.round(22.0 + 3 * np.sin(np.arange(n) / 97.0) + g.normal(0, 0.1, n), 3)
    sal = np.round(35.0 + g.normal(0, 0.05, n), 3)
    tqc = (g.random(n) < 0.02).astype(np.int64)
    sqc = (g.random(n) < 0.02).astype(np.int64)
    return t, lat, lon, temp, sal, tqc, sqc


def write_csvp(path: str, cols) -> None:
    t, lat, lon, temp, sal, tqc, sqc = cols
    lines = [TABLE_HEADER]
    lines += [
        f"{ts},{a!r},{o!r},{x!r},{s!r},{q},{r}"
        for ts, a, o, x, s, q, r in zip(
            iso_times(t), lat.tolist(), lon.tolist(), temp.tolist(), sal.tolist(),
            tqc.tolist(), sqc.tolist(),
        )
    ]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


# ---------------------------------------------------------------------------
# batch_publish: tabledap tracks + griddap NetCDF grids
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class TableDataset:
    dataset_id: str
    path: str
    rows: int


@dataclass(frozen=True)
class GridDataset:
    dataset_id: str
    divisions: tuple  # ((iso_start, iso_end, nc_path), ...)
    n_lat: int
    n_lon: int


#: tabledap cart: rows per dataset (one sample per minute, so a dataset
#: spans rows/1440 days and gets one chunk URL per day)
TABLE_ROWS = (4_000,)
#: griddap cart: (time steps, lat, lon) per dataset; 2 time divisions each
GRID_SHAPES = ((4, 12, 16),)


def batch_inputs(root: str, seed: int):
    """Write the batch cart under ``root``; returns (tables, grids)."""
    from erddap2agol_spark.sources.netcdf import write_netcdf_classic

    os.makedirs(root, exist_ok=True)
    tables = []
    for i, n in enumerate(TABLE_ROWS):
        ds = f"glider_{i:02d}"
        cols = track_rows(rng(seed, "table", ds), n, 60)
        path = os.path.join(root, f"{ds}.csvp")
        write_csvp(path, cols)
        tables.append(TableDataset(ds, path, n))
    grids = []
    for i, (nt, ny, nx) in enumerate(GRID_SHAPES):
        ds = f"sst_{i:02d}"
        g = rng(seed, "grid", ds)
        lats = np.round(25.0 + 0.25 * np.arange(ny), 3).astype(np.float32)
        lons = np.round(-95.0 + 0.25 * np.arange(nx), 3).astype(np.float32)
        divs = []
        half = nt // 2
        for k, (a, b) in enumerate(((0, half), (half, nt))):
            hours = 6.0 * np.arange(a, b, dtype=np.float64)
            sst = np.round(20 + g.normal(0, 2, (b - a, ny, nx)), 2).astype(np.float32)
            p = os.path.join(root, f"{ds}_subset_{k}.nc")
            write_netcdf_classic(
                p,
                [("time", None), ("latitude", ny), ("longitude", nx)],
                {
                    "time": (["time"], hours,
                             {"units": "hours since 2024-03-01T00:00:00Z"}),
                    "latitude": (["latitude"], lats, {"units": "degrees_north"}),
                    "longitude": (["longitude"], lons, {"units": "degrees_east"}),
                    "sst": (["time", "latitude", "longitude"], sst,
                            {"units": "degree_C"}),
                },
                {"title": ds},
            )
            t0 = EPOCH + timedelta(hours=6 * a)
            t1 = EPOCH + timedelta(hours=6 * (b - 1))
            divs.append((t0.strftime("%Y-%m-%dT%H:%M:%SZ"),
                         t1.strftime("%Y-%m-%dT%H:%M:%SZ"), p))
        grids.append(GridDataset(ds, tuple(divs), ny, nx))
    return tables, grids


# ---------------------------------------------------------------------------
# nrt_fleet: trailing-window datasets
# ---------------------------------------------------------------------------

#: NRT cadence and window: 30-minute samples, 7-day window, a changed
#: dataset's window moves by one hour (two samples in, two out)
NRT_STEP_S = 1800
NRT_WINDOW_DAYS = 7
NRT_SHIFT_S = 3600
#: most window shifts a dataset file can serve (cycles are capped to it)
NRT_MAX_SHIFTS = 400


@dataclass(frozen=True)
class NrtDataset:
    dataset_id: str
    path: str


def nrt_window_end(version: int) -> datetime:
    return EPOCH + timedelta(days=NRT_WINDOW_DAYS, seconds=NRT_SHIFT_S * version)


def nrt_inputs(root: str, seed: int, n_datasets: int) -> list[NrtDataset]:
    """One csvp file per fleet dataset, long enough for every window
    shift a run can make."""
    os.makedirs(root, exist_ok=True)
    span = NRT_WINDOW_DAYS * 86400 + NRT_MAX_SHIFTS * NRT_SHIFT_S
    n = span // NRT_STEP_S + 1
    out = []
    for i in range(n_datasets):
        ds = f"nrt_{i:03d}"
        path = os.path.join(root, f"{ds}.csvp")
        write_csvp(path, track_rows(rng(seed, "nrt", ds), n, NRT_STEP_S))
        out.append(NrtDataset(ds, path))
    return out


def changed_sets(seed: int, n_datasets: int, n_cycles: int, share: float):
    """The seeded per-cycle change schedule: a fixed-size random subset
    (``share`` of the fleet) per cycle."""
    g = rng(seed, "nrt-schedule")
    k = max(1, round(n_datasets * share))
    return [sorted(g.choice(n_datasets, size=k, replace=False).tolist())
            for _ in range(n_cycles)]


# ---------------------------------------------------------------------------
# query_suite: the engine's parquet tables
# ---------------------------------------------------------------------------

_WORDS = (
    "a the data query row scan join hash sort merge filter group agg window "
    "stream batch table column key value part line order customer vector "
    "spark big small fast slow"
).split()
_PART_ADJ = "red blue hot old large small".split()
_PART_NOUN = "plate widget ring rod bolt gizmo gear nut".split()


def _write_parquet(path: str, table) -> None:
    import pyarrow.parquet as pq

    pq.write_table(table, path, compression="snappy")


def query_tables(root: str, seed: int, scale: int = 1) -> None:
    """TPC-H-like star schema plus ``events``, ``documents`` and
    ``embeddings``, shaped like the engine's test tables (same names,
    types and value domains).  ``scale=1`` is 6000 lineitem rows."""
    import pyarrow as pa

    os.makedirs(root, exist_ok=True)
    g = rng(seed, "tables")
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_line, n_ev = 1500 * scale, 6000 * scale, 1000 * scale
    n_doc = n_emb = 500

    _write_parquet(os.path.join(root, "region.parquet"), pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    _write_parquet(os.path.join(root, "nation.parquet"), pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    segs = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
    _write_parquet(os.path.join(root, "customer.parquet"), pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(g.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[g.integers(0, 5, n_cust)].tolist(),
    }))
    _write_parquet(os.path.join(root, "supplier.parquet"), pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(g.uniform(-999.99, 9999.99, n_supp), 2),
    }))
    ptypes = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    adj = np.array(_PART_ADJ)[g.integers(0, len(_PART_ADJ), n_part)]
    noun = np.array(_PART_NOUN)[g.integers(0, len(_PART_NOUN), n_part)]
    _write_parquet(os.path.join(root, "part.parquet"), pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
        "p_type": ptypes[g.integers(0, 6, n_part)].tolist(),
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    }))
    day = np.datetime64("1995-01-01", "us")
    odate = day + g.integers(0, 2404, n_ord).astype("timedelta64[D]")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write_parquet(os.path.join(root, "orders.parquet"), pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[g.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": np.round(g.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": prio[g.integers(0, 5, n_ord)].tolist(),
    }))
    lok = g.integers(0, n_ord, n_line)
    qty = g.integers(1, 51, n_line).astype(np.float64)
    ship = odate[lok] + g.integers(1, 122, n_line).astype("timedelta64[D]")
    _write_parquet(os.path.join(root, "lineitem.parquet"), pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(g.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(g.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * g.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(g.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(g.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, n_line)].tolist(),
        "l_linestatus": np.array(["F", "O"])[g.integers(0, 2, n_line)].tolist(),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    }))
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        g.integers(0, 30 * 86400 * 10**6, n_ev)
    ).astype("timedelta64[us]")
    etypes = np.array(["click", "signup", "error", "view", "purchase"])
    _write_parquet(os.path.join(root, "events.parquet"), pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, 150, n_ev), pa.int64()),
        "event_type": etypes[g.integers(0, 5, n_ev)].tolist(),
        "value": np.round(g.uniform(0.01, 490, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in g.integers(0, 100, n_ev)],
    }))
    # documents: random word sequences; ~5% are a copy of an earlier
    # document with one extra token, the near duplicates dedup must find
    langs = np.array(["en"] * 3 + ["zh", "de", "es", "fr"])
    texts: list[str] = []
    for i in range(n_doc):
        if i > 20 and g.random() < 0.05:
            texts.append(texts[int(g.integers(0, i))] + " dup")
        else:
            n_w = int(g.integers(8, 90))
            texts.append(" ".join(np.array(_WORDS)[g.integers(0, len(_WORDS), n_w)]))
    _write_parquet(os.path.join(root, "documents.parquet"), pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": langs[g.integers(0, len(langs), n_doc)].tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    # embeddings: unit vectors around ten label centroids
    labels = g.integers(0, 10, n_emb)
    centers = g.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.15 + g.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write_parquet(os.path.join(root, "embeddings.parquet"), pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }))


def tree_digest(root: str) -> str:
    """sha256 over every file's relative path and bytes (determinism check)."""
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
