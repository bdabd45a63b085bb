"""The batch-publish phase of ``publish_fleet``: the reference's
batch-create flow over the wire.

Each op takes one dataset of a fixed cart from URL compile to a publish
that has been read back:

- tabledap: chunk URLs (one per day) -> ``erddap_csvp_http`` scan ->
  QC-column projection -> track segments with GeoJSON -> ``publish_df``
  (add on the first pass, overwrite after) -> ``read_service``;
- griddap: hyperslab URLs (one per time division) ->
  ``read_griddap_netcdf_http`` -> ``write_raster_tiles`` ->
  ``read_raster_tiles``.

The readback is checked against the generator's rows (count and digest)
outside the op's time.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta

from perfbench import inputs
from perfbench.common import Op
from perfbench.spans import job_stats
from perfbench.wire import digest, untimed

SEG_SCHEMA = (
    "track string, seg_start string, x1 double, y1 double, x2 double, "
    "y2 double, temperature double, salinity double, geometry string"
)


def _seg_line(t, x1, y1, x2, y2, temp, sal) -> str:
    return f"{t}|{x1:.5f}|{y1:.5f}|{x2:.5f}|{y2:.5f}|{temp:.3f}|{sal:.3f}"


def _cell_line(lat, lon, v) -> str:
    return f"{lat:.3f}|{lon:.3f}|{v:.2f}"


class BatchPublish:
    """One publish op per cart dataset per cycle."""

    def setup(self, ctx, wire) -> None:
        """Generate the cart, register it with the stand-ins and run the
        first (cold) pass, which adds every item to the portal."""
        self.wire = wire
        root = os.path.join(ctx.work, "batch")
        self.tables, self.grids = inputs.batch_inputs(root, ctx.seed)
        wire.standins.add_csvp({t.dataset_id: t.path for t in self.tables})
        wire.standins.add_grid({g.dataset_id: list(g.divisions) for g in self.grids})
        self.raster_root = os.path.join(ctx.work, "raster")
        self.expected = {t.dataset_id: self._expected_table(ctx.seed, t) for t in self.tables}
        self.expected.update({g.dataset_id: self._expected_grid(ctx.seed, g) for g in self.grids})
        self.bad: list[str] = []
        self.cycle(ctx)
        self.bad.clear()

    # -- expected outputs, straight from the generator ---------------------
    @staticmethod
    def _expected_table(seed, t):
        ts, lat, lon, temp, sal, _, _ = inputs.track_rows(
            inputs.rng(seed, "table", t.dataset_id), t.rows, 60)
        iso = inputs.iso_times(ts)
        lines = [
            _seg_line(iso[i], lon[i], lat[i], lon[i + 1], lat[i + 1], temp[i + 1], sal[i + 1])
            for i in range(len(iso) - 1)
        ]
        return len(lines), digest(lines)

    def _expected_grid(self, seed, g):
        from erddap2agol_spark.sources.netcdf import parse_netcdf_classic

        lines = []
        for _, _, path in g.divisions:
            with open(path, "rb") as f:
                var = parse_netcdf_classic(f.read())
            v = var["vars"]
            sst, lats, lons = v["sst"]["data"], v["latitude"]["data"], v["longitude"]["data"]
            for k in range(sst.shape[0]):
                for i, la in enumerate(lats):
                    for j, lo in enumerate(lons):
                        lines.append(_cell_line(float(la), float(lo), float(sst[k, i, j])))
        return len(lines), digest(lines)

    # -- instrumentation -----------------------------------------------------
    def instrument(self, ctx) -> None:
        from erddap2agol_spark.sinks import raster
        from erddap2agol_spark.sources import erddap_url

        tr = ctx.tracer
        tr.wrap(erddap_url, "tabledap_chunk_urls", "erddap_url.tabledap_chunk_urls",
                on_result=lambda a, k, out: {"urls": len(out)})
        tr.wrap(raster, "write_raster_tiles", "raster.write",
                on_result=lambda a, k, out: {"tiles": len(out["tiles"])})

    # -- ops -------------------------------------------------------------
    def _table_frames(self, ctx, t, urls):
        from pyspark.sql import functions as F

        from erddap2agol_spark.functions.geometry import segment_geojson
        from erddap2agol_spark.operators.projection import metadata_projection
        from erddap2agol_spark.operators.windows import track_segments

        scan = (
            ctx.spark.read.format("erddap_csvp_http")
            .option("urls", "\n".join(urls))
            .option("schema_ddl", inputs.TABLE_DDL)
            .load()
        )

        def transform(df):
            kept = metadata_projection(df, required=("time",))
            seg = track_segments(
                kept.withColumn("track", F.lit(t.dataset_id)), "track", "time",
                "longitude", "latitude", carry_cols=("temperature", "salinity"),
            )
            return seg.select(
                "track",
                F.date_format("seg_start", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("seg_start"),
                "x1", "y1", "x2", "y2", "temperature", "salinity",
                segment_geojson(F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2"))
                .alias("geometry"),
            )

        return scan, transform

    def _table_op(self, ctx, t) -> Op:
        from erddap2agol_spark.plans.chunking import time_slices
        from erddap2agol_spark.sinks import agol_rest
        from erddap2agol_spark.sinks.publish import ItemProperties
        from erddap2agol_spark.sources import erddap_url

        ctx.tracer.begin_op("publish_table")
        t0 = time.perf_counter()
        start = inputs.EPOCH
        end = start + timedelta(minutes=t.rows - 1)
        urls = erddap_url.tabledap_chunk_urls(
            self.wire.erddap, t.dataset_id, list(inputs.TABLE_COLUMNS),
            time_slices(start, end, t.rows, chunk_size=1440),
        )
        scan, transform = self._table_frames(ctx, t, urls)
        props = ItemProperties(title=t.dataset_id, tags=[t.dataset_id, "perfbench"])
        _, sid = agol_rest.publish_df(transform(scan), self.wire.client, props, overwrite=True)
        rows = agol_rest.read_service(ctx.spark, self.wire.client, sid, SEG_SCHEMA).collect()
        secs = time.perf_counter() - t0
        with untimed(ctx):
            self.wire.after_op(len(urls))
            ok = self._check(t.dataset_id, [
                _seg_line(r.seg_start, r.x1, r.y1, r.x2, r.y2, r.temperature, r.salinity)
                for r in rows if r.geometry.startswith('{"type":"LineString"')
            ])
            if ctx.tracer.enabled:
                self._probe_table(ctx, t, scan, transform, len(rows))
        return Op("publish_table", secs, ok)

    def _grid_op(self, ctx, g) -> Op:
        from erddap2agol_spark.sinks import raster
        from erddap2agol_spark.sources import erddap_url, netcdf

        ctx.tracer.begin_op("publish_grid")
        t0 = time.perf_counter()
        urls = [
            erddap_url.griddap_url(
                self.wire.erddap, g.dataset_id, ["sst"],
                erddap_url.GridSelector(
                    erddap_url.TimeRange(_utc(a), _utc(b)),
                    (25.0, 25.0 + 0.25 * (g.n_lat - 1)),
                    (-95.0, -95.0 + 0.25 * (g.n_lon - 1)),
                ),
            )
            for a, b, _ in g.divisions
        ]
        cells = netcdf.read_griddap_netcdf_http(ctx.spark, urls)
        root = os.path.join(self.raster_root, g.dataset_id)
        raster.write_raster_tiles(cells, root, var_col="var", slice_cols=("time",))
        with ctx.tracer.span("raster.read"):
            rows = raster.read_raster_tiles(ctx.spark, root).collect()
        secs = time.perf_counter() - t0
        with untimed(ctx):
            self.wire.after_op(len(urls))
            ok = self._check(g.dataset_id, [
                _cell_line(r.lat, r.lon, r.value) for r in rows if r.value is not None
            ])
            if ctx.tracer.enabled:
                self._probe_grid(ctx, urls, len(rows))
        return Op("publish_grid", secs, ok)

    def _check(self, ds, lines) -> bool:
        n, d = self.expected[ds]
        if len(lines) == n and digest(lines) == d:
            return True
        self.bad.append(f"{ds}: readback {len(lines)} rows, expected {n}")
        return False

    # -- isolation probes (traced cycles only, never inside an op) -------
    def _probe(self, ctx, name, df, **attrs) -> None:
        sc = ctx.spark.sparkContext
        group = f"{ctx.tracer.op_id}-{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        _, tasks = job_stats(sc, group)
        sc.setJobGroup("idle", "between ops")
        ctx.tracer.record(name, t0, t1, tasks=tasks, **attrs)

    def _probe_table(self, ctx, t, scan, transform, rows_out) -> None:
        from pyspark import StorageLevel

        self._probe(ctx, "probe.erddap_http.scan", scan, rows=t.rows)
        cached = scan.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_ONLY)
        try:
            self._probe(ctx, "probe.operators.transform", transform(cached),
                        rows_out=rows_out)
        finally:
            cached.unpersist()
        self.wire.standins.drain()

    def _probe_grid(self, ctx, urls, cells) -> None:
        from erddap2agol_spark.sources import netcdf

        self._probe(ctx, "probe.netcdf.scan", netcdf.read_griddap_netcdf_http(ctx.spark, urls),
                    cells=cells)
        self.wire.standins.drain()

    def cycle(self, ctx) -> list[Op]:
        ops = [self._table_op(ctx, t) for t in self.tables]
        ops += [self._grid_op(ctx, g) for g in self.grids]
        return ops

    def verify(self, ctx) -> list[str]:
        """Readback mismatches (each already failed its op)."""
        return self.bad

    def layer_metrics(self, ctx) -> dict:
        tr = ctx.tracer
        out = {}
        cu = tr.named("erddap_url.tabledap_chunk_urls")
        if cu:
            out["erddap_url.urls_per_dataset"] = sum(s["urls"] for s in cu) / len(cu)
        sc = tr.named("probe.erddap_http.scan")
        if sc:
            secs = sum(s["end"] - s["start"] for s in sc)
            out["erddap_http.scan_s"] = secs / len(sc)
            out["erddap_http.rows_per_s"] = sum(s["rows"] for s in sc) / secs
            out["erddap_http.tasks"] = sum(s["tasks"] for s in sc) / len(sc)
        nc = tr.named("probe.netcdf.scan")
        if nc:
            out["netcdf.scan_s"] = sum(s["end"] - s["start"] for s in nc) / len(nc)
            out["netcdf.cells"] = sum(s["cells"] for s in nc) / len(nc)
        tf = tr.named("probe.operators.transform")
        if tf:
            out["operators.transform_s"] = sum(s["end"] - s["start"] for s in tf) / len(tf)
            out["operators.rows_out"] = sum(s["rows_out"] for s in tf) / len(tf)
        rw = tr.named("raster.write")
        if rw:
            out["raster.write_s"] = sum(s["end"] - s["start"] for s in rw) / len(rw)
            out["raster.tiles"] = sum(s["tiles"] for s in rw) / len(rw)
        rr = tr.named("raster.read")
        if rr:
            out["raster.read_s"] = sum(s["end"] - s["start"] for s in rr) / len(rr)
        return out


def _utc(iso: str) -> datetime:
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%SZ")
