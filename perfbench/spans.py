"""Spans around calls into the engine's layers, recorded from the
benchmark's side only (the package is not instrumented).

``Tracer.wrap`` swaps a module or class attribute for a wrapper that
opens a span named after the layer.  The engine imports most helpers
inside the calling function body, so a swapped module attribute is
seen on the next call.  Wrappers check ``enabled`` on every call, which
lets a traced run alternate traced and untraced cycles and report the
tracing overhead as the difference of the two.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self._stack: list[int] = []
        self._next_id = 0
        self._n_ops = 0

    def begin_op(self, kind: str) -> str:
        """Start a new op: later spans carry its id until the next one."""
        self._n_ops += 1
        self.op_id = f"{kind}-{self._n_ops}"
        return self.op_id

    @contextmanager
    def span(self, name: str, **attrs):
        """One span: name, start, end, parent span id and op id."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            **attrs,
        }
        self._next_id += 1
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """A span measured elsewhere (an isolation probe, a stand-in
        counter window)."""
        if self.enabled:
            self.spans.append({
                "id": self._next_id, "name": name, "parent": None,
                "op": self.op_id, "start": start, "end": end, **attrs,
            })
            self._next_id += 1

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a span-opening wrapper; ``on_result``
        may add attributes to the span from the call's result."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if rec is not None and on_result is not None:
                    rec.update(on_result(args, kwargs, out))
                return out

        setattr(owner, attr, wrapper)

    # -- reading spans back ----------------------------------------------
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def spark_phases_s(df) -> dict[str, float]:
    """Catalyst phase durations of ``df``'s own QueryExecution (the
    frame the action ran on — ``df.count()`` would plan a new one)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


def job_stats(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) that ran under a job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            tasks += si.numTasks if si else 0
    return len(jobs), tasks
