"""Pieces both wire phases share: the stand-ins, the portal client,
per-op stand-in counters and untimed work between ops."""

from __future__ import annotations

import hashlib
import time
from contextlib import contextmanager

from perfbench.standins import Standins


class Wire:
    def __init__(self, ctx):
        from erddap2agol_spark.sinks.agol_rest import AgolRestClient
        from erddap2agol_spark.sources import erddap_http

        self.ctx = ctx
        self.standins = Standins(ctx.root)
        self.erddap = self.standins.erddap_url
        self.client = AgolRestClient(self.standins.agol_url)
        erddap_http.register(ctx.spark)

    def after_op(self, needed_urls: int) -> None:
        """Read and clear the stand-ins' counters for the op just run;
        in a traced cycle they become a span attributed to that op."""
        c = self.standins.drain()
        e, a = c["erddap"], c["agol"]
        self.ctx.tracer.record(
            "standins", 0.0, 0.0,
            erddap_requests=e["requests"], erddap_bytes=e["bytes"],
            erddap_busy_s=e["busy_s"], erddap_needed_urls=needed_urls,
            agol_requests=a["requests"], agol_busy_s=a["busy_s"],
        )

    def close(self) -> None:
        self.standins.stop()


@contextmanager
def untimed(ctx):
    """Work between ops (checks, probes) that a cycle's wall excludes."""
    t0 = time.perf_counter()
    try:
        yield
    finally:
        ctx.untimed_s += time.perf_counter() - t0


def digest(lines) -> str:
    """Order-insensitive digest of canonical row renderings."""
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def wire_layer_metrics(tr, n_cycles: int) -> dict:
    """Stand-in and portal-client metrics from a traced run's spans; the
    stand-in counters are totals per traced cycle."""
    st = tr.named("standins")
    out = {}
    if st:
        n = max(1, n_cycles)
        out["erddap_httpd.requests"] = sum(s["erddap_requests"] for s in st) / n
        out["erddap_httpd.bytes"] = sum(s["erddap_bytes"] for s in st) / n
        out["erddap_httpd.busy_s"] = sum(s["erddap_busy_s"] for s in st) / n
        needed = sum(s["erddap_needed_urls"] for s in st)
        if needed:
            out["erddap_httpd.fetch_amplification"] = (
                sum(s["erddap_requests"] for s in st) / needed
            )
        out["agol_httpd.busy_s"] = sum(s["agol_busy_s"] for s in st) / n
    pubs = tr.named("agol_rest.publish_df")
    if pubs:
        ids = {p["id"] for p in pubs}
        by_id = {s["id"]: s for s in tr.spans}
        reqs = [s for s in tr.named("agol_rest.request") if _under(by_id, s, ids)]
        nd = [s for s in tr.named("agol_rest.ndjson") if s["parent"] in ids]
        own = sum(p["end"] - p["start"] for p in pubs) - sum(
            s["end"] - s["start"] for s in nd
        )
        out["agol_rest.publish_df_s"] = own / len(pubs)
        out["agol_rest.requests_per_publish"] = len(reqs) / len(pubs)
        out["agol_rest.payload_bytes"] = sum(s["form_bytes"] for s in reqs) / len(pubs)
    rs = tr.named("agol_rest.read_service")
    if rs:
        out["agol_rest.read_service_s"] = sum(s["end"] - s["start"] for s in rs) / len(rs)
    return out


def _under(by_id, span, ids) -> bool:
    p = span["parent"]
    while p is not None:
        if p in ids:
            return True
        p = by_id[p]["parent"] if p in by_id else None
    return False


def instrument_portal_client(tr) -> None:
    """Spans on the portal client: publish, its payload build (where the
    Spark action runs), each REST request and the readback."""
    from urllib.parse import urlencode

    from erddap2agol_spark.sinks import agol_rest

    tr.wrap(agol_rest, "publish_df", "agol_rest.publish_df")
    tr.wrap(agol_rest, "_ndjson", "agol_rest.ndjson")
    tr.wrap(agol_rest, "read_service", "agol_rest.read_service")
    tr.wrap(
        agol_rest.AgolRestClient, "_request_raw", "agol_rest.request",
        on_result=lambda a, k, out: {
            "form_bytes": len(urlencode(a[2])) if len(a) > 2 and a[2] else 0
        },
    )
