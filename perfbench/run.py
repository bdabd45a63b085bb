"""Benchmark entry point.

    python3 perfbench/run.py --workload <publish_fleet|query_suite>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One client drives a closed loop in this
process: set-up (Spark session, seeded inputs, stand-ins, warm-up
passes), then whole cycles until ``--seconds`` have passed (at least
one cycle; two with ``--trace 1``), then output checks.  The last
stdout line is the JSON result; the line before it (``# info``) gives
the sample count, every cycle time, per-kind medians, loadavg and nproc.

With ``--trace 1`` cycles alternate traced and untraced: per-layer
metrics come from the traced cycles, and the tracing overhead is the
traced minus the untraced median of each timing metric.  Spans are
written to ``.perfbench_traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

T0_PERF = time.perf_counter()


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _workload(name: str):
    if name == "query_suite":
        from perfbench.wl_query import QuerySuite

        return QuerySuite()
    if name == "publish_fleet":
        from perfbench.wl_wire import PublishFleet

        return PublishFleet()
    raise SystemExit(f"unknown workload {name!r}")


def jvm_counters(spark) -> tuple[float, float, int]:
    """(JIT compile s, GC s, codegen compilations) since JVM start."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return (mf.getCompilationMXBean().getTotalCompilationTime() / 1e3, gc / 1e3,
            codegen.METRIC_COMPILATION_TIME().getCount())


def measure(ctx, wl):
    """Closed loop over whole cycles; returns (ops, cycles) split by
    whether the cycle was traced."""
    ops = {True: [], False: []}
    cycles = {True: [], False: []}
    t_start = time.perf_counter()
    i = 0
    while True:
        traced = ctx.trace and i % 2 == 0
        ctx.tracer.enabled = traced
        untimed0 = ctx.untimed_s
        jvm0 = jvm_counters(ctx.spark)
        c0 = time.perf_counter()
        cyc = wl.cycle(ctx)
        wall = time.perf_counter() - c0
        ctx.notes.setdefault("jit_s_gc_s_codegen_per_cycle", []).append(
            [round(b - a, 3) for a, b in zip(jvm0, jvm_counters(ctx.spark))])
        # checks and isolation probes run between ops, outside the cycle
        cycles[traced].append(wall - (ctx.untimed_s - untimed0))
        ops[traced].extend(cyc)
        i += 1
        if time.perf_counter() - t_start >= ctx.seconds and i >= 1 + ctx.trace:
            break
    ctx.tracer.enabled = False
    return ops, cycles


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    from perfbench import metrics
    from perfbench.common import (
        Ctx, jvm_pid, make_work_dir, process_age_s, start_spark, stop_spark, summarize,
        vm_hwm_mb,
    )

    age0 = process_age_s() - (time.perf_counter() - T0_PERF)
    if args.workload not in metrics.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(root, "erddap2agol_spark")):
        print("run from the repository root (erddap2agol_spark/ not found)",
              file=sys.stderr)
        return 2
    ctx = Ctx(root=root, work=make_work_dir(root), seed=args.seed,
              seconds=args.seconds, trace=bool(args.trace))
    wl = _workload(args.workload)
    spark = None
    try:
        spark = start_spark(ctx)
        wl.setup(ctx)
        if ctx.trace:
            wl.instrument(ctx)
        setup_s = age0 + (time.perf_counter() - T0_PERF)
        ops, cycles = measure(ctx, wl)
        bad_checks = wl.verify(ctx)
        all_ops = ops[True] + ops[False]
        failed = sum(not o.ok for o in all_ops) + bad_checks
        attempted = len(all_ops)
        if ctx.trace:
            traced = summarize(ops[True], cycles[True])
            plain = summarize(ops[False], cycles[False])
            summary = summarize(all_ops, cycles[True] + cycles[False])
            layer = wl.layer_metrics(ctx)
            layer["session.start_s"] = ctx.t_session
            for kind, p50 in summary["_per_kind_median_s"].items():
                layer[f"op.{kind}.p50_s"] = p50
            for k in ("cycle_s", "op_geomean_s"):
                layer[f"trace_overhead.{k}"] = traced[k] - plain[k]
            per_cycle = ctx.notes["jit_s_gc_s_codegen_per_cycle"]
            for i, k in enumerate(("jvm.jit_s", "jvm.gc_s", "spark.codegen_compiles")):
                layer[k] = sum(c[i] for c in per_cycle) / len(per_cycle)
            values = {n: float(layer.get(n, 0.0)) for n, _ in metrics.PER_LAYER}
            units = dict(metrics.PER_LAYER)
            os.makedirs(os.path.join(root, ".perfbench_traces"), exist_ok=True)
            ctx.tracer.dump(os.path.join(
                root, ".perfbench_traces",
                f"spans-{args.workload}-seed{args.seed}.json"))
        else:
            summary = summarize(all_ops, cycles[False])
            rss_parts = [vm_hwm_mb(os.getpid()), vm_hwm_mb(jvm_pid(spark))]
            ctx.notes["peak_rss_mb_driver_jvm"] = [round(r, 1) for r in rss_parts]
            rss = sum(rss_parts)
            values = {
                "setup_s": setup_s,
                "cycle_s": summary["cycle_s"],
                "op_geomean_s": summary["op_geomean_s"],
                "peak_rss_mb": rss,
            }
            units = dict(metrics.END_TO_END)
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "n_ops": summary["_n_ops"],
            "cycles_s": summary["_cycles_s"],
            "per_kind_median_s": summary["_per_kind_median_s"],
            "error_rate": failed / attempted,
            "loadavg": os.getloadavg(),
            "nproc": os.cpu_count(),
            **ctx.notes,
        }
        print("# info " + json.dumps(info, default=str))
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            wl.teardown(ctx)
        finally:
            if spark is not None:
                stop_spark(spark)
            shutil.rmtree(ctx.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
