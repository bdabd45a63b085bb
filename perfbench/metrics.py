"""The metric and workload names the benchmark prints.  ``selfcheck.py``
asserts they equal the ones ``BENCHMARK.json`` declares."""

from perfbench.wl_query import QUERIES

WORKLOADS = ("publish_fleet", "query_suite")

#: (name, unit), printed with --trace 0
END_TO_END = (
    ("setup_s", "s"),
    ("cycle_s", "s"),
    ("op_geomean_s", "s"),
    ("peak_rss_mb", "MiB"),
)


#: (name, unit), printed with --trace 1; a layer a workload does not run
#: reads 0 there
PER_LAYER = (
    ("session.start_s", "s"),
    ("op.publish_table.p50_s", "s"),
    ("op.publish_grid.p50_s", "s"),
    ("op.nrt_refresh.p50_s", "s"),
    ("erddap_url.urls_per_dataset", "count"),
    ("erddap_httpd.requests", "count"),
    ("erddap_httpd.bytes", "B"),
    ("erddap_httpd.busy_s", "s"),
    ("erddap_httpd.fetch_amplification", "ratio"),
    ("http_fetch.calls", "count"),
    ("http_fetch.not_modified_share", "ratio"),
    ("http_fetch.s", "s"),
    ("erddap_http.scan_s", "s"),
    ("erddap_http.rows_per_s", "1/s"),
    ("erddap_http.tasks", "count"),
    ("netcdf.scan_s", "s"),
    ("netcdf.cells", "count"),
    ("operators.transform_s", "s"),
    ("operators.rows_out", "count"),
    ("agol_rest.publish_df_s", "s"),
    ("agol_rest.requests_per_publish", "count"),
    ("agol_rest.payload_bytes", "B"),
    ("agol_rest.read_service_s", "s"),
    ("agol_httpd.busy_s", "s"),
    ("raster.write_s", "s"),
    ("raster.read_s", "s"),
    ("raster.tiles", "count"),
    ("nrt.poll_s", "s"),
    ("nrt.refresh_s", "s"),
    ("nrt.atomic_overwrite_s", "s"),
    ("nrt.published_share", "ratio"),
    *(
        (f"q.{q}.{k}", "count" if k == "jobs" else "s")
        for q in QUERIES
        for k in ("build_s", "plan_s", "exec_s", "jobs")
    ),
    ("dedup.release_s", "s"),
    ("spark.persistent_rdds_delta", "count"),
    ("spark.codegen_compiles", "count"),
    ("jvm.jit_s", "s"),
    ("jvm.gc_s", "s"),
    ("trace_overhead.cycle_s", "s"),
    ("trace_overhead.op_geomean_s", "s"),
)
