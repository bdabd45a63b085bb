"""publish_fleet: the paper's wire pipeline, both ways round, against
the loopback ERDDAP and AGOL stand-ins.

One cycle is one batch-publish pass over a fixed cart (chunked scans,
transforms, portal writes and raster tiles; ``wl_batch``) followed by
one NRT fleet round (conditional polls and portal overwrites;
``wl_nrt``).  The two phases share one Spark session and one stand-in
process; they are one workload because every run pays a cold JVM and
JIT warm-up, and the benchmark's time budget does not cover that cost
for three workloads.
"""

from __future__ import annotations

import time

from perfbench.wire import Wire, instrument_portal_client, untimed, wire_layer_metrics
from perfbench.wl_batch import BatchPublish
from perfbench.wl_nrt import NrtFleet

#: untimed full cycles after the first batch pass and NRT round: the first
#: cycle after them still ran ~15% slow while the JIT caught up
WARMUP_CYCLES = 1

class PublishFleet:
    def setup(self, ctx) -> None:
        t0 = time.perf_counter()
        self.wire = Wire(ctx)
        self.batch = BatchPublish()
        self.nrt = NrtFleet()
        t1 = time.perf_counter()
        self.batch.setup(ctx, self.wire)
        t2 = time.perf_counter()
        self.nrt.setup(ctx, self.wire)
        t3 = time.perf_counter()
        self.items = len(self.batch.tables) + len(self.nrt.fleet)
        self.bad_items: list[str] = []
        self.traced_cycles = 0
        for _ in range(WARMUP_CYCLES):
            self.cycle(ctx)
        ctx.notes["setup_phases_s"] = {
            "session": round(ctx.t_session, 3), "standins": round(t1 - t0, 3),
            "batch_first_pass": round(t2 - t1, 3), "nrt_first_round": round(t3 - t2, 3),
            "warmup_cycles": round(time.perf_counter() - t3, 3),
        }

    def instrument(self, ctx) -> None:
        self.batch.instrument(ctx)
        self.nrt.instrument(ctx)
        instrument_portal_client(ctx.tracer)

    def cycle(self, ctx):
        self.traced_cycles += ctx.tracer.enabled
        ops = self.batch.cycle(ctx) + self.nrt.cycle(ctx)
        with untimed(ctx):
            items = self.wire.standins.drain()["agol_items"]
        if items != self.items:  # overwrites must not add portal items
            self.bad_items.append(f"portal holds {items} items, expected {self.items}")
        return ops

    def verify(self, ctx) -> int:
        nrt_bad, nrt_notes = self.nrt.verify(ctx)
        notes = self.batch.verify(ctx) + nrt_notes + self.bad_items
        if notes:
            ctx.notes["mismatch"] = notes[:5]
        return nrt_bad + len(self.bad_items)

    def layer_metrics(self, ctx) -> dict:
        return {
            **wire_layer_metrics(ctx.tracer, self.traced_cycles),
            **self.batch.layer_metrics(ctx),
            **self.nrt.layer_metrics(ctx),
        }

    def teardown(self, ctx) -> None:
        wire = getattr(self, "wire", None)
        if wire is not None:
            wire.close()
