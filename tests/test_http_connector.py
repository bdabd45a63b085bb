"""Live-HTTP physical path (VERDICT r4 #1): fetch engine retry/requeue
semantics against an injected-failure loopback server, and the
erddap_csvp_http connector proven hash-equal to the file-backed scan."""

from __future__ import annotations

import datetime as dt

import pytest

from erddap2agol_spark.sources import http_fetch
from erddap2agol_spark.sources.erddap_httpd import ErddapFixtureServer
from erddap2agol_spark.sources.erddap_url import TimeRange, tabledap_chunk_urls

CSVP = "/root/repo/fixtures/csvp/glider_track.csvp"
COLS = [
    "time",
    "latitude",
    "longitude",
    "depth",
    "sea_water_temperature",
]
DDL = (
    "time timestamp_ntz, latitude double, longitude double, "
    "depth double, sea_water_temperature double"
)


@pytest.fixture()
def server():
    s = ErddapFixtureServer(csvp_fixtures={"glider_dsx": CSVP})
    base = s.start()
    yield s, base
    s.stop()


def _chunks():
    d = dt.datetime
    return [
        TimeRange(d(2024, 3, 1, 0, 0), d(2024, 3, 1, 13, 0)),
        TimeRange(d(2024, 3, 1, 13, 0), d(2024, 3, 2, 5, 0)),
        TimeRange(d(2024, 3, 2, 5, 0), d(2024, 3, 2, 20, 0)),
    ]


# ---------------------------------------------------------------------------
# fetch engine: per-URL retry + deque requeue (reference
# data_wrangler.py:556-723 semantics)
# ---------------------------------------------------------------------------


def test_fetch_with_retry_recovers_from_transient_503(server):
    s, base = server
    url = f"{base}/tabledap/glider_dsx.csvp?time,latitude"
    s.fail_next("glider_dsx", 2, status=503)
    body = http_fetch.fetch_with_retry(url, attempts=3, backoff_s=0.01).decode()
    assert body.startswith("time (UTC),latitude (degrees_north)")
    assert len(s.request_log) == 3  # two failures + the success


def test_fetch_with_retry_exhausts_attempts(server):
    s, base = server
    url = f"{base}/tabledap/glider_dsx.csvp?time"
    s.fail_next("glider_dsx", 99, status=503)
    with pytest.raises(http_fetch.FetchError, match="3 attempt"):
        http_fetch.fetch_with_retry(url, attempts=3, backoff_s=0.01)
    assert len(s.request_log) == 3  # exactly 3 attempts, then gave up


def test_fetch_413_never_retries(server):
    s, base = server
    url = f"{base}/tabledap/glider_dsx.csvp?time"
    s.fail_next("glider_dsx", 99, status=413)
    with pytest.raises(http_fetch.PayloadTooLarge):
        http_fetch.fetch_with_retry(url, attempts=3, backoff_s=0.01)
    assert len(s.request_log) == 1  # no second request for an over-large ask


def test_fetch_timeout_retries_then_succeeds(server):
    s, base = server
    url = f"{base}/tabledap/glider_dsx.csvp?time"
    s.delay("glider_dsx", 0.6)
    with pytest.raises(http_fetch.FetchError):
        http_fetch.fetch_with_retry(url, attempts=2, timeout_s=0.1, backoff_s=0.01)
    s._delay.clear()
    assert http_fetch.fetch_with_retry(url, attempts=2, timeout_s=5.0).decode()


def test_fetch_all_requeues_failures_to_the_back(server):
    s, base = server
    urls = tabledap_chunk_urls(base, "glider_dsx", COLS, _chunks())
    # the FIRST chunk fails twice; deque discipline: the other chunks
    # complete before its retry, and it still succeeds on attempt 3
    s.fail_next(f"time>={_chunks()[0].start.strftime('%Y-%m-%dT%H:%M:%SZ')}", 2)
    results, failures = http_fetch.fetch_all(urls, attempts=3, timeout_s=5.0)
    assert failures == {} and set(results) == set(urls)
    # request order shows the requeue: chunk0 fail, 1, 2, chunk0 fail, chunk0 ok
    first_chunk_hits = [i for i, p in enumerate(s.request_log) if "time>=2024-03-01T00:00:00Z" in p]
    assert first_chunk_hits == [0, 3, 4]


def test_fetch_all_reports_permanent_failure_without_blocking_others(server):
    s, base = server
    urls = tabledap_chunk_urls(base, "glider_dsx", COLS, _chunks())
    s.fail_next("time>=2024-03-01T13:00:00Z", 99, status=503)
    results, failures = http_fetch.fetch_all(urls, attempts=3, timeout_s=5.0)
    assert set(results) == {urls[0], urls[2]}
    assert list(failures) == [urls[1]] and "503" in failures[urls[1]]


# ---------------------------------------------------------------------------
# the connector: chunk URLs as InputPartitions, fetched on executors
# ---------------------------------------------------------------------------


@pytest.fixture()
def http_df(spark, server):
    from erddap2agol_spark.sources import erddap_http

    s, base = server
    erddap_http.register(spark)
    urls = tabledap_chunk_urls(base, "glider_dsx", COLS, _chunks())
    df = (
        spark.read.format("erddap_csvp_http")
        .option("urls", "\n".join(urls))
        .option("schema_ddl", DDL)
        .option("timeout_s", "10")
        .load()
    )
    return s, df


def test_http_scan_equals_file_scan(spark, http_df):
    """The headline integration check: the URL-fetched chunked scan is
    row-identical to the local file scan of the same fixture."""
    from erddap2agol_spark.sources.csvp import read_csvp

    s, df = http_df
    file_df, units = read_csvp(spark, CSVP)
    got = sorted(
        (r["time"], r["latitude"], r["longitude"], r["depth"],
         r["sea_water_temperature"])
        for r in df.collect()
    )
    want = sorted(
        ((r["time"].replace(tzinfo=None) if r["time"].tzinfo else r["time"]),
         r["latitude"], r["longitude"], r["depth"],
         r["sea_water_temperature"])
        for r in file_df.collect()
    )
    assert len(got) == 40 and got == want
    # and the scan really was chunked: one request per chunk URL
    assert len([p for p in s.request_log if "time>=" in p]) == 3


def test_http_scan_is_one_task_per_chunk(spark, http_df):
    _, df = http_df
    assert df.rdd.getNumPartitions() == 3


def test_http_scan_retries_inside_the_task(spark, http_df):
    s, df = http_df
    s.fail_next("time>=2024-03-02T05:00:00Z", 2, status=503)
    assert df.count() == 40  # task-level retry absorbed both 503s


def test_schema_inference_from_first_chunk(spark, server):
    from erddap2agol_spark.sources import erddap_http

    s, base = server
    erddap_http.register(spark)
    urls = tabledap_chunk_urls(base, "glider_dsx", COLS, _chunks())
    df = (
        spark.read.format("erddap_csvp_http")
        .option("urls", "\n".join(urls))
        .load()
    )
    assert dict(df.dtypes) == {
        "time": "timestamp_ntz",
        "latitude": "double",
        "longitude": "double",
        "depth": "double",
        "sea_water_temperature": "double",
    }
    assert df.count() == 40


# ---------------------------------------------------------------------------
# griddap over HTTP: .nc bytes fetched per scan task, decoded in the task
# ---------------------------------------------------------------------------


@pytest.fixture()
def grid_server():
    import glob
    import os

    from erddap2agol_spark.sources.griddap_fixture import (
        FIXTURE_ROOT,
        ensure_griddap_fixture,
    )

    nc_dir, _ = ensure_griddap_fixture(FIXTURE_ROOT)
    raw = {
        f"/griddap/{os.path.basename(p)}": p
        for p in sorted(glob.glob(os.path.join(nc_dir, "*.nc")))
    }
    s = ErddapFixtureServer(raw_fixtures=raw)
    base = s.start()
    yield s, base, nc_dir, sorted(raw)
    s.stop()


def test_griddap_http_scan_equals_file_scan(spark, grid_server):
    from collections import Counter

    from erddap2agol_spark.sources import netcdf as nc

    s, base, nc_dir, paths = grid_server
    urls = [base + p for p in paths]
    got = Counter(map(tuple, nc.read_griddap_netcdf_http(spark, urls).collect()))

    def norm(c):
        return Counter(
            tuple(None if isinstance(x, float) and x != x else x for x in k)
            for k, v in c.items()
            for _ in range(v)
        )

    want = Counter(map(tuple, nc.read_griddap_netcdf(spark, nc_dir).collect()))
    assert norm(got) == norm(want) and sum(want.values()) > 0
    assert len(s.request_log) == len(urls)  # one GET per chunk URL


def test_griddap_http_retries_transient_failures(spark, grid_server):
    from erddap2agol_spark.sources import netcdf as nc

    s, base, _, paths = grid_server
    s.fail_next("tempsal_grid.nc", 2, status=503)
    urls = [base + p for p in paths]
    df = nc.read_griddap_netcdf_http(spark, urls, attempts=3)
    assert df.count() > 0


def test_raster_publish_fetches_each_division_once(spark, grid_server, tmp_path):
    """The raster writer evaluates its source once: the lattice job and
    the tile write share one fetch + decode of every division URL, and
    the pin the call took is gone when it returns."""
    from pyspark import StorageLevel

    from erddap2agol_spark.sinks import raster
    from erddap2agol_spark.sources import netcdf as nc

    s, base, _, paths = grid_server
    urls = [base + p for p in paths]
    cells = nc.read_griddap_netcdf_http(spark, urls)
    meta = raster.write_raster_tiles(
        cells, str(tmp_path / "r"), slice_cols=("time", "altitude")
    )
    assert meta["tiles"]
    assert len(s.request_log) == len(urls)  # one GET per division URL
    assert cells.storageLevel == StorageLevel.NONE  # call-pinned, released


def test_raster_publish_keeps_a_caller_cache(spark, grid_server, tmp_path):
    """A frame the caller already cached is reused as-is (still one GET
    per URL) and stays cached after the call."""
    from pyspark import StorageLevel

    from erddap2agol_spark.sinks import raster
    from erddap2agol_spark.sources import netcdf as nc

    s, base, _, paths = grid_server
    urls = [base + p for p in paths]
    cells = nc.read_griddap_netcdf_http(spark, urls).persist(StorageLevel.MEMORY_ONLY)
    try:
        raster.write_raster_tiles(
            cells, str(tmp_path / "r"), slice_cols=("time", "altitude")
        )
        assert len(s.request_log) == len(urls)
        assert cells.storageLevel == StorageLevel.MEMORY_ONLY
    finally:
        cells.unpersist()


# ---------------------------------------------------------------------------
# ST2 over the wire: If-Modified-Since conditional fetch + NRT refresh
# ---------------------------------------------------------------------------


def test_fetch_if_modified_304_roundtrip(server):
    s, base = server
    url = f"{base}/tabledap/glider_dsx.csvp?time,latitude"
    body, lm = http_fetch.fetch_if_modified(url)
    assert body is not None and lm == s.last_modified
    # unchanged upstream -> 304, zero data bytes
    body2, lm2 = http_fetch.fetch_if_modified(url, since=lm)
    assert body2 is None and lm2 == lm
    # upstream advances -> full response again with the new stamp
    s.touch("Tue, 05 Mar 2024 12:00:00 GMT")
    body3, lm3 = http_fetch.fetch_if_modified(url, since=lm)
    assert body3 is not None and lm3 == "Tue, 05 Mar 2024 12:00:00 GMT"


def test_refresh_http_csvp_gates_and_publishes(spark, server, tmp_path):
    from erddap2agol_spark.streaming import nrt

    s, base = server
    sink = str(tmp_path / "nrt_http")
    url = f"{base}/tabledap/glider_dsx.csvp?time,latitude,longitude"
    r1 = nrt.refresh_http_csvp(spark, url, sink)
    assert r1["published"] and r1["rows"] == 40
    assert nrt.read_current(spark, sink).count() == 40
    # second cycle: server unchanged -> 304 skip, nothing rewritten
    r2 = nrt.refresh_http_csvp(spark, url, sink)
    assert not r2["published"] and "304" in r2["reason"]
    # upstream advances -> republish, Last-Modified recorded post-commit
    s.touch("Tue, 05 Mar 2024 12:00:00 GMT")
    r3 = nrt.refresh_http_csvp(spark, url, sink)
    assert r3["published"] and r3["last_modified"].startswith("Tue, 05 Mar")
    assert nrt.load_state(sink)["last_modified"] == r3["last_modified"]


# ---------------------------------------------------------------------------
# metadata on the wire: DAS fleet sweep + catalog bootstrap (S4/S2)
# ---------------------------------------------------------------------------


_DAS_MIN = """Attributes {
 time {
  Float64 actual_range 1.0385856e+9, 1.7e+9;
  String units "seconds since 1970-01-01T00:00:00Z";
 }
 NC_GLOBAL {
  String title "%s";
 }
}
"""

_TABLE_JSON = (
    '{"table": {"columnNames": ["datasetID", "title", "tabledap", "griddap",'
    ' "minTime (UTC)", "maxTime (UTC)"], "rows": ['
    '["buoy_a", "Buoy A", "url", "", "2021-01-01T00:00:00Z", "2024-01-01T00:00:00Z"],'
    '["buoy_b", "Buoy B", "url", "", "2022-01-01T00:00:00Z", "2024-01-01T00:00:00Z"]'
    "]}}"
)


@pytest.fixture()
def meta_server(tmp_path):
    das_a = tmp_path / "a.das"
    das_a.write_text(_DAS_MIN % "Buoy A")
    das_b = tmp_path / "b.das"
    das_b.write_text(_DAS_MIN % "Buoy B")
    cat = tmp_path / "allDatasets.json"
    cat.write_text(_TABLE_JSON)
    s = ErddapFixtureServer(
        raw_fixtures={
            "/tabledap/buoy_a.das": str(das_a),
            "/tabledap/buoy_b.das": str(das_b),
            "/tabledap/allDatasets.json": str(cat),
        }
    )
    base = s.start()
    yield s, base
    s.stop()


def test_das_from_urls_fleet_sweep(spark, meta_server):
    from erddap2agol_spark.sources import das

    s, base = meta_server
    urls = {
        "buoy_a": f"{base}/tabledap/buoy_a.das",
        "buoy_b": f"{base}/tabledap/buoy_b.das",
        "dead": f"{base}/tabledap/missing.das",  # 404: fails fast
    }
    meta, failures = das.das_from_urls(spark, urls, attempts=3, timeout_s=5.0)
    assert list(failures) == ["dead"] and "404" in failures["dead"]
    got = {
        (r.dataset_id, r.variable, r.attr): r.value
        for r in meta.collect()
        if r.attr in ("title", "units")
    }
    assert got[("buoy_a", "NC_GLOBAL", "title")] == "Buoy A"
    assert got[("buoy_b", "time", "units")].startswith("seconds since")
    # a transient 503 on one endpoint is absorbed by the requeue
    s.fail_next("buoy_b.das", 2, status=503)
    meta2, failures2 = das.das_from_urls(
        spark, {k: v for k, v in urls.items() if k != "dead"},
        attempts=3, timeout_s=5.0,
    )
    assert failures2 == {} and meta2.count() == meta.count()


def test_catalog_from_url_bootstrap(spark, meta_server):
    from erddap2agol_spark.sources import catalog
    from erddap2agol_spark.sources.erddap_url import all_datasets_url

    s, base = meta_server
    url = all_datasets_url(base)
    assert url.startswith(f"{base}/tabledap/allDatasets.json")
    df = catalog.catalog_from_url(spark, url, timeout_s=5.0)
    ds = catalog.catalog_datasets(df)
    assert {r.dataset_id for r in ds.collect()} == {"buoy_a", "buoy_b"}
    assert dict(df.dtypes)["min_time"] == "timestamp"


def test_chunk_boundary_row_fetched_exactly_once(spark, tmp_path):
    """Half-open chunk contract (review r5): a row exactly on a shared
    chunk boundary must be fetched by exactly one task — closed ranges
    on both sides would duplicate it in the union."""
    from erddap2agol_spark.sources import erddap_http

    csvp = tmp_path / "boundary.csvp"
    csvp.write_text(
        "time (UTC),v (m)\n"
        "2024-03-01T00:00:00Z,1.0\n"
        "2024-03-01T12:00:00Z,2.0\n"
        "2024-03-02T00:00:00Z,3.0\n"
    )
    s = ErddapFixtureServer(csvp_fixtures={"bnd": str(csvp)})
    base = s.start()
    try:
        d = dt.datetime
        chunks = [
            TimeRange(d(2024, 3, 1, 0, 0), d(2024, 3, 1, 12, 0)),
            TimeRange(d(2024, 3, 1, 12, 0), d(2024, 3, 2, 0, 0)),
        ]
        urls = tabledap_chunk_urls(base, "bnd", ["time", "v"], chunks)
        erddap_http.register(spark)
        df = (
            spark.read.format("erddap_csvp_http")
            .option("urls", "\n".join(urls))
            .option("schema_ddl", "time timestamp_ntz, v double")
            .load()
        )
        vals = sorted(r["v"] for r in df.collect())
        assert vals == [1.0, 2.0, 3.0]  # the 12:00 row exactly once
    finally:
        s.stop()


def test_boolean_ddl_column_is_readable(spark, tmp_path):
    """A type the DDL parser accepts must be readable by the scan
    (review r5: boolean was accepted at plan time, crashed task-side)."""
    from erddap2agol_spark.sources import erddap_http

    csvp = tmp_path / "flags.csvp"
    csvp.write_text(
        "time (UTC),qc_pass (1)\n"
        "2024-03-01T00:30:00Z,True\n"
        "2024-03-01T01:30:00Z,False\n"
    )
    s = ErddapFixtureServer(csvp_fixtures={"flags": str(csvp)})
    base = s.start()
    try:
        erddap_http.register(spark)
        df = (
            spark.read.format("erddap_csvp_http")
            .option("urls", f"{base}/tabledap/flags.csvp?time,qc_pass")
            .option("schema_ddl", "time timestamp_ntz, qc_pass boolean")
            .load()
        )
        got = sorted((r["qc_pass"]) for r in df.collect())
        assert got == [False, True]
    finally:
        s.stop()


def test_griddap_http_handles_odd_urls(spark, grid_server):
    from erddap2agol_spark.sources import netcdf as nc

    s, base, _, paths = grid_server
    with pytest.raises(ValueError, match="no URLs"):
        nc.read_griddap_netcdf_http(spark, [])
    # a non-.nc basename still plans (id = name sans extension); here we
    # just check the plan builds and the dataset id falls back cleanly
    df = nc.read_griddap_netcdf_http(spark, [base + paths[0]])
    assert df.schema["dataset_id"].dataType.simpleString() == "string"


def test_refresh_http_csvp_publishes_typed_time(spark, server, tmp_path):
    from erddap2agol_spark.streaming import nrt

    _, base = server
    sink = str(tmp_path / "nrt_typed")
    url = f"{base}/tabledap/glider_dsx.csvp?time,latitude"
    assert nrt.refresh_http_csvp(spark, url, sink)["published"]
    snap = nrt.read_current(spark, sink)
    assert dict(snap.dtypes)["time"].startswith("timestamp")
    # and a timestamp operation works on the snapshot
    from erddap2agol_spark.functions.datetimes import epoch_us

    assert snap.select(epoch_us("time").alias("e")).agg({"e": "max"}).first()[0] > 0


def test_fetch_all_threaded_matches_sequential(server):
    """max_workers > 1 drains the same deque concurrently: identical
    results/failures contract, per-URL attempt bounds still hold."""
    s, base = server
    urls = tabledap_chunk_urls(base, "glider_dsx", COLS, _chunks())
    s.fail_next("time>=2024-03-01T13:00:00Z", 2, status=503)  # transient
    s.fail_next("time>=2024-03-02T05:00:00Z", 99, status=503)  # permanent
    results, failures = http_fetch.fetch_all(
        urls, attempts=3, timeout_s=5.0, max_workers=4
    )
    assert set(results) == {urls[0], urls[1]}
    assert list(failures) == [urls[2]] and "503" in failures[urls[2]]
    # the permanent failure tried exactly `attempts` times (match the
    # START bound: the middle chunk's exclusive END carries the same
    # timestamp)
    perm_hits = [p for p in s.request_log if "time>=2024-03-02T05:00:00Z" in p]
    assert len(perm_hits) == 3


def test_every_ddl_type_is_readable():
    """_DDL_TYPES and _table_for_schema are parallel tables — this guard
    keeps them from drifting (the boolean gap was found by review once;
    never again). Every type the DDL parser accepts must coerce a tiny
    frame without error, with the arrow type matching."""
    import pandas as pd

    from erddap2agol_spark.sources.erddap_http import (
        _DDL_TYPES,
        _schema_from_ddl,
        _table_for_schema,
    )

    sample = {
        "timestamp": ["2024-03-01T00:30:00Z"],
        "timestamp_ntz": ["2024-03-01T00:30:00Z"],
        "double": [1.5],
        "float": [1.5],
        "bigint": [7],
        "long": [7],
        "int": [7],
        "integer": [7],
        "string": ["x"],
        "boolean": [True],
    }
    assert set(sample) == set(_DDL_TYPES)
    for typ, vals in sample.items():
        schema = _schema_from_ddl(f"c {typ}")
        tbl = _table_for_schema(pd.DataFrame({"c": vals}), schema)
        assert tbl.num_rows == 1, typ


def test_fetch_all_accounts_for_every_url(server):
    """Accounting contract (review r5): every input URL lands in exactly
    one of results/failures — even one with a malformed scheme that
    raises ValueError, in both sequential and threaded modes."""
    _, base = server
    urls = [
        f"{base}/tabledap/glider_dsx.csvp?time",
        "notaurl://nope",  # ValueError: unknown url type
        f"{base}/tabledap/missing.csvp?time",  # 404
    ]
    for workers in (1, 4):
        results, failures = http_fetch.fetch_all(
            urls, attempts=2, timeout_s=5.0, max_workers=workers
        )
        assert set(results) | set(failures) == set(urls)
        assert set(results) & set(failures) == set()
        assert urls[0] in results
        assert "ValueError" in failures[urls[1]] or "unknown url" in failures[urls[1]]
        assert "404" in failures[urls[2]]


def test_boolean_column_with_missing_values(spark, tmp_path):
    from erddap2agol_spark.sources import erddap_http

    csvp = tmp_path / "flags2.csvp"
    csvp.write_text(
        "time (UTC),qc_pass (1)\n"
        "2024-03-01T00:30:00Z,True\n"
        "2024-03-01T01:30:00Z,NaN\n"
        "2024-03-01T02:30:00Z,False\n"
    )
    s = ErddapFixtureServer(csvp_fixtures={"flags2": str(csvp)})
    base = s.start()
    try:
        erddap_http.register(spark)
        df = (
            spark.read.format("erddap_csvp_http")
            .option("urls", f"{base}/tabledap/flags2.csvp?time,qc_pass")
            .option("schema_ddl", "time timestamp_ntz, qc_pass boolean")
            .load()
        )
        got = [r["qc_pass"] for r in df.orderBy("time").collect()]
        assert got == [True, None, False]
    finally:
        s.stop()


def test_disjoint_and_descending_chunk_bounds():
    """Continuation-aware bounds (review r5): disjoint windows stay
    fully CLOSED (no boundary row silently dropped); a descending
    adjacent list still gets the exclusive bound on the continued
    endpoint, not on a positional guess."""
    d = dt.datetime
    disjoint = [
        TimeRange(d(2024, 1, 1), d(2024, 1, 2)),
        TimeRange(d(2024, 3, 1), d(2024, 3, 2)),
    ]
    urls = tabledap_chunk_urls("http://x", "ds", ["time", "v"], disjoint)
    assert all("%3C%3D" in u for u in urls)  # both closed
    descending = [
        TimeRange(d(2024, 1, 2), d(2024, 1, 3)),  # the TRUE last window
        TimeRange(d(2024, 1, 1), d(2024, 1, 2)),  # continued by the first
    ]
    urls = tabledap_chunk_urls("http://x", "ds", ["time", "v"], descending)
    assert "%3C%3D" in urls[0]  # max-time window keeps its closed bound
    assert "%3C%3D" not in urls[1] and "time%3C" in urls[1]


def test_streaming_source_over_http_exactly_once(spark, tmp_path):
    """ST1 over the wire as a Structured Streaming SOURCE: offsets are
    the time high-water mark, so a checkpointed restart ingests only
    rows newer than the committed mark — exactly-once across restarts,
    driven by polling a (mutable) tabledap endpoint."""
    from erddap2agol_spark.sources import erddap_http

    src = tmp_path / "live.csvp"
    hdr = "time (UTC),v (m)\n"
    day1 = "".join(
        f"2024-03-01T{h:02d}:30:00Z,{float(h)}\n" for h in range(4)
    )
    src.write_text(hdr + day1)
    s = ErddapFixtureServer(csvp_fixtures={"live": str(src)})
    base = s.start()
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    try:
        erddap_http.register(spark)

        def run_once():
            stream = (
                spark.readStream.format("erddap_csvp_http")
                .option("stream_url", f"{base}/tabledap/live.csvp?time,v")
                .option("schema_ddl", "time timestamp_ntz, v double")
                .option("urls", "unused")  # batch-path option, not consumed
                .load()
            )
            q = (
                stream.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_once()
        got = spark.read.parquet(out)
        assert sorted(r["v"] for r in got.collect()) == [0.0, 1.0, 2.0, 3.0]

        # new upstream rows; restart from the same checkpoint
        day2 = "".join(
            f"2024-03-02T{h:02d}:30:00Z,{float(100 + h)}\n" for h in range(2)
        )
        src.write_text(hdr + day1 + day2)
        run_once()
        vals = sorted(r["v"] for r in spark.read.parquet(out).collect())
        # day-1 rows exactly once, day-2 rows appended
        assert vals == [0.0, 1.0, 2.0, 3.0, 100.0, 101.0]
    finally:
        s.stop()


def test_streaming_source_subsecond_hwm_exactly_once(spark, tmp_path):
    """ADVICE r5: a whole-second hwm format truncated fractional max
    times, so (hwm, max] rows were re-delivered next poll — duplicates
    across microbatches. The microsecond-precision hwm must keep
    sub-second datasets exactly-once across a checkpointed restart."""
    from erddap2agol_spark.sources import erddap_http

    src = tmp_path / "subsec.csvp"
    hdr = "time (UTC),v (m)\n"
    batch1 = (
        "2024-03-01T12:00:00.250Z,1.0\n"
        "2024-03-01T12:00:00.500Z,2.0\n"
    )
    src.write_text(hdr + batch1)
    s = ErddapFixtureServer(csvp_fixtures={"subsec": str(src)})
    base = s.start()
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    try:
        erddap_http.register(spark)

        def run_once():
            stream = (
                spark.readStream.format("erddap_csvp_http")
                .option("stream_url", f"{base}/tabledap/subsec.csvp?time,v")
                .option("schema_ddl", "time timestamp_ntz, v double")
                .option("urls", "unused")
                .load()
            )
            q = (
                stream.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_once()
        assert sorted(
            r["v"] for r in spark.read.parquet(out).collect()
        ) == [1.0, 2.0]
        # a row strictly inside the truncation gap (12:00:00, 12:00:00.5]
        # would be re-delivered by a whole-second hwm; plus a later row
        src.write_text(hdr + batch1 + "2024-03-01T12:00:00.750Z,3.0\n")
        run_once()
        vals = sorted(r["v"] for r in spark.read.parquet(out).collect())
        assert vals == [1.0, 2.0, 3.0]  # no duplicate 1.0/2.0
    finally:
        s.stop()


def test_fetch_all_deduplicates_input_urls(server):
    """ADVICE r5: duplicate input URLs shared one attempt counter
    (halving the retry budget) and could land in BOTH dicts. Inputs are
    deduplicated up front: each distinct URL fetched once, full budget."""
    s, base = server
    url = f"{base}/tabledap/glider_dsx.csvp?time"
    s.fail_next("glider_dsx", 2)  # needs the FULL 3-attempt budget
    results, failures = http_fetch.fetch_all(
        [url, url, url], attempts=3, timeout_s=5.0
    )
    assert url in results and not failures
    assert len(s.request_log) == 3  # 2 failures + 1 success — fetched once


def test_streaming_source_requires_stream_url_and_ddl(spark):
    from erddap2agol_spark.sources import erddap_http

    erddap_http.register(spark)
    with pytest.raises(Exception, match="stream_url"):
        (
            spark.readStream.format("erddap_csvp_http")
            .option("urls", "http://x/a.csvp?time")
            .option("schema_ddl", "time timestamp_ntz")
            .load()
            .writeStream.format("noop")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


def test_grid_fixture_division_dispatch(tmp_path):
    """r8 griddap protocol surface: a hyperslab GET serves the UNIQUE
    time division fully contained in the requested [t0, t1]; a slab
    matching zero or several divisions is a caller bug (404); a
    query-less GET falls through to the raw whole-file fixture."""
    import urllib.error
    import urllib.request

    f1 = tmp_path / "d1.nc"
    f2 = tmp_path / "d2.nc"
    f1.write_bytes(b"DIV1")
    f2.write_bytes(b"DIV2")
    s = ErddapFixtureServer(
        raw_fixtures={"/griddap/ds.nc": str(f1)},
        grid_fixtures={
            "ds": [
                ("2024-03-01T00:00:00Z", "2024-03-01T18:00:00Z", str(f1)),
                ("2024-03-02T00:00:00Z", "2024-03-02T06:00:00Z", str(f2)),
            ]
        },
    )
    base = s.start()
    try:
        def get(url):
            with urllib.request.urlopen(url) as r:
                return r.read()

        slab = "%5B(2024-03-02T00:00:00Z):1:(2024-03-02T06:00:00Z)%5D"
        assert get(f"{base}/griddap/ds.nc?var{slab}") == b"DIV2"
        # whole-file GET (no hyperslab) falls through to raw_fixtures
        assert get(f"{base}/griddap/ds.nc") == b"DIV1"
        # slab spanning BOTH divisions: ambiguous -> 404
        wide = "%5B(2024-03-01T00:00:00Z):1:(2024-03-02T06:00:00Z)%5D"
        with pytest.raises(urllib.error.HTTPError) as e:
            get(f"{base}/griddap/ds.nc?var{wide}")
        assert e.value.code == 404
        # slab covering NO division -> 404
        none = "%5B(2024-03-03T00:00:00Z):1:(2024-03-03T06:00:00Z)%5D"
        with pytest.raises(urllib.error.HTTPError) as e:
            get(f"{base}/griddap/ds.nc?var{none}")
        assert e.value.code == 404
    finally:
        s.stop()
