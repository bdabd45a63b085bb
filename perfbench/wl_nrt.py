"""The NRT-fleet phase of ``publish_fleet``: the wire layers the other
way round — many small conditional polls instead of bulk scans,
overwrite instead of add.

Every cycle a seeded quarter of the fleet gets new upstream data (its
7-day window moves one hour and its Last-Modified is bumped).  The
client then polls every dataset with ``nrt.refresh_http_csvp``: an
unchanged dataset answers 304, a changed one is fetched, parsed and
swapped into its A/B snapshot, then overwritten on the portal with
``publish_df(overwrite=True)``.  An op (kind ``nrt_refresh``) is one
changed dataset's refresh, from the conditional GET to the portal
overwrite; a 304 poll (a few milliseconds) is not an op but is inside
the cycle.
"""

from __future__ import annotations

import os
import time
from datetime import timedelta

from perfbench import inputs
from perfbench.common import Op
from perfbench.wire import digest, untimed

N_DATASETS = 4
CHANGE_SHARE = 0.25
SNAP_SCHEMA = (
    "time string, latitude double, longitude double, temperature double, "
    "salinity double, temperature_qc long, salinity_qc long"
)


def _line(t, lat, lon, temp, sal) -> str:
    return f"{t}|{lat:.5f}|{lon:.5f}|{temp:.3f}|{sal:.3f}"


class NrtFleet:
    def setup(self, ctx, wire) -> None:
        """Generate the fleet and publish every dataset once."""
        self.wire = wire
        self.fleet = inputs.nrt_inputs(os.path.join(ctx.work, "nrt"), ctx.seed, N_DATASETS)
        wire.standins.add_csvp({d.dataset_id: d.path for d in self.fleet})
        self.sinks = os.path.join(ctx.work, "sinks")
        self.version = {d.dataset_id: 0 for d in self.fleet}
        self.schedule = inputs.changed_sets(
            ctx.seed, N_DATASETS, inputs.NRT_MAX_SHIFTS, CHANGE_SHARE)
        self.n_cycle = 0
        self.bad: list[str] = []
        self.traced_cycles = 0
        self._refresh_all(ctx, set(self.version))
        self.bad.clear()

    def instrument(self, ctx) -> None:
        from erddap2agol_spark.sources import http_fetch
        from erddap2agol_spark.streaming import nrt

        tr = ctx.tracer
        tr.wrap(http_fetch, "fetch_if_modified", "http_fetch.fetch_if_modified",
                on_result=lambda a, k, out: {"not_modified": out[0] is None})
        tr.wrap(nrt, "refresh_http_csvp", "nrt.refresh_http_csvp",
                on_result=lambda a, k, out: {"published": out["published"]})
        tr.wrap(nrt, "atomic_overwrite", "nrt.atomic_overwrite")

    def _refresh_all(self, ctx, changed: set[str]) -> list[Op]:
        from erddap2agol_spark.sinks import agol_rest
        from erddap2agol_spark.sinks.publish import ItemProperties
        from erddap2agol_spark.sources import erddap_url
        from erddap2agol_spark.streaming import nrt

        ops = []
        for d in self.fleet:
            ds = d.dataset_id
            sink = os.path.join(self.sinks, ds)
            ctx.tracer.begin_op("nrt_poll")
            t0 = time.perf_counter()
            url = erddap_url.nrt_url(
                self.wire.erddap, ds, list(inputs.TABLE_COLUMNS),
                inputs.nrt_window_end(self.version[ds]), inputs.NRT_WINDOW_DAYS,
            )
            rep = nrt.refresh_http_csvp(ctx.spark, url, sink)
            if rep["published"]:
                agol_rest.publish_df(
                    nrt.read_current(ctx.spark, sink), self.wire.client,
                    ItemProperties(title=ds, tags=[ds, "perfbench"]), overwrite=True,
                )
            secs = time.perf_counter() - t0
            with untimed(ctx):
                self.wire.after_op(1)
                ok = rep["published"] == (ds in changed)
                if not ok:
                    self.bad.append(f"{ds}: published={rep['published']} "
                                    f"changed={ds in changed} ({rep.get('reason')})")
            if ds in changed:
                ops.append(Op("nrt_refresh", secs, ok))
        return ops

    def cycle(self, ctx) -> list[Op]:
        if self.n_cycle >= len(self.schedule):
            raise RuntimeError("fleet cycles exceed the generated window shifts")
        changed = {self.fleet[i].dataset_id for i in self.schedule[self.n_cycle]}
        self.n_cycle += 1
        self.traced_cycles += ctx.tracer.enabled
        with untimed(ctx):  # upstream gets new data between client cycles
            for ds in changed:
                self.version[ds] += 1
            self.wire.standins.touch(sorted(changed))
        return self._refresh_all(ctx, changed)

    # -- output checks -----------------------------------------------------
    def _expected(self, seed, ds) -> tuple[int, str, str]:
        span = inputs.NRT_WINDOW_DAYS * 86400 + inputs.NRT_MAX_SHIFTS * inputs.NRT_SHIFT_S
        t, lat, lon, temp, sal, _, _ = inputs.track_rows(
            inputs.rng(seed, "nrt", ds), span // inputs.NRT_STEP_S + 1, inputs.NRT_STEP_S)
        end = inputs.nrt_window_end(self.version[ds])
        lo = (end - timedelta(days=inputs.NRT_WINDOW_DAYS) - inputs.EPOCH).total_seconds()
        hi = (end - inputs.EPOCH).total_seconds()
        keep = [i for i in range(len(t)) if lo <= t[i] <= hi]
        iso = inputs.iso_times(t)
        lines = [_line(iso[i], lat[i], lon[i], temp[i], sal[i]) for i in keep]
        return len(lines), digest(lines), iso[keep[-1]]

    def verify(self, ctx) -> tuple[int, list[str]]:
        """Every snapshot through ``nrt.read_current`` (rows, digest, max
        time) and every portal layer through ``read_service``; returns
        the failed checks not already counted as failed ops."""
        from erddap2agol_spark.sinks import agol_rest
        from erddap2agol_spark.streaming import nrt

        bad = 0
        for d in self.fleet:
            ds = d.dataset_id
            n, dig, t_max = self._expected(ctx.seed, ds)
            snap = nrt.read_current(ctx.spark, os.path.join(self.sinks, ds)).collect()
            got = [_line(r.time.strftime("%Y-%m-%dT%H:%M:%SZ"), r.latitude, r.longitude,
                         r.temperature, r.salinity) for r in snap]
            got_max = max(r.time for r in snap).strftime("%Y-%m-%dT%H:%M:%SZ")
            hits = [h for h in self.wire.client.search(ds) if h.get("title") == ds]
            layer = []
            if len(hits) == 1:
                sid = self.wire.client.publish(hits[0]["id"])
                layer = [
                    _line(r.time[:19] + "Z", r.latitude, r.longitude, r.temperature,
                          r.salinity)
                    for r in agol_rest.read_service(
                        ctx.spark, self.wire.client, sid, SNAP_SCHEMA).collect()
                ]
            if (len(got), digest(got), got_max) != (n, dig, t_max) or \
                    (len(layer), digest(layer)) != (n, dig):
                bad += 1
                self.bad.append(f"{ds}: snapshot {len(got)} rows max {got_max}, "
                                f"layer {len(layer)} rows, expected {n} max {t_max}")
        return bad + sum(1 for b in self.bad if "changed=False" in b), self.bad

    def layer_metrics(self, ctx) -> dict:
        tr = ctx.tracer
        out = {}
        fe = tr.named("http_fetch.fetch_if_modified")
        if fe:
            out["http_fetch.calls"] = len(fe) / max(1, self.traced_cycles)
            out["http_fetch.not_modified_share"] = sum(s["not_modified"] for s in fe) / len(fe)
            out["http_fetch.s"] = sum(s["end"] - s["start"] for s in fe) / len(fe)
        rf = tr.named("nrt.refresh_http_csvp")
        polls = [s["end"] - s["start"] for s in rf if not s["published"]]
        pubs = [s["end"] - s["start"] for s in rf if s["published"]]
        if polls:
            out["nrt.poll_s"] = sum(polls) / len(polls)
        if pubs:
            out["nrt.refresh_s"] = sum(pubs) / len(pubs)
        if rf:
            out["nrt.published_share"] = len(pubs) / len(rf)
        ao = tr.named("nrt.atomic_overwrite")
        if ao:
            out["nrt.atomic_overwrite_s"] = sum(s["end"] - s["start"] for s in ao) / len(ao)
        return out
