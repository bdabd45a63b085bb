"""Run context, Spark session, /proc readings and run statistics."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from perfbench.spans import Tracer


def process_age_s() -> float:
    """Seconds since this process was created (from /proc), so set-up
    time includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


@dataclass
class Op:
    """One timed operation of the closed loop."""

    kind: str  # what the op does: a query name, publish_table, ...
    seconds: float
    ok: bool


@dataclass
class Ctx:
    root: str  # checkout root
    work: str  # per-run scratch under the checkout
    seed: int
    seconds: float
    trace: bool
    tracer: Tracer = field(default_factory=Tracer)
    spark: object = None
    t_session: float = 0.0
    untimed_s: float = 0.0  # checks and probes between ops, summed
    notes: dict = field(default_factory=dict)


def make_work_dir(root: str) -> str:
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def start_spark(ctx: Ctx):
    """``local[nproc]`` with nproc shuffle partitions; every temp file of
    the driver and the JVM stays inside the run's work dir."""
    n = os.cpu_count() or 1
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    tmp = os.path.join(ctx.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    from erddap2agol_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": tmp,
            # a fixed-size heap and young generation: with heap resizing, and
            # then with G1 sizing eden by pause times, how much of the heap
            # a run had touched (its RSS) swung 20-35% from run to run
            "spark.driver.extraJavaOptions": f"-Xms2g -Xmn512m -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
            # one query_suite pass generates ~255 distinct codegen classes;
            # at Spark's default of 100 cache entries every pass recompiles
            # all of them (Janino + a fresh JIT), which left pass times
            # drifting and noisy from run to run
            "spark.sql.codegen.cache.maxEntries": "4000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()  # first job: executor and codegen start
    ctx.t_session = time.perf_counter() - t0
    ctx.spark = spark
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM pyspark launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when this pipe closes
            proc.wait(60)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def summarize(ops: list[Op], cycles: list[float]) -> dict:
    """End-to-end timing metrics over the measured window."""
    per_kind: dict[str, list[float]] = {}
    for o in ops:
        if o.ok:
            per_kind.setdefault(o.kind, []).append(o.seconds)
    return {
        "cycle_s": statistics.median(cycles),
        "op_geomean_s": geomean([statistics.median(v) for v in per_kind.values()]),
        "_n_ops": len(ops),
        "_per_kind_median_s": {
            k: statistics.median(v) for k, v in sorted(per_kind.items())
        },
        "_cycles_s": [round(c, 3) for c in cycles],
    }
