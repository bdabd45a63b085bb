"""tools/bench_subset.py argument guard: a bad ``--runs`` prints usage and
exits 2 before any Spark session starts."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

_TOOL = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "bench_subset.py")


def _load_tool():
    spec = importlib.util.spec_from_file_location("bench_subset", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize(
    "argv", [["q1", "--runs"], ["q1", "--runs", "three"]], ids=["missing", "non_int"]
)
def test_bad_runs_value_exits_with_usage(monkeypatch, capsys, argv):
    from erddap2agol_spark import session

    def no_session(*a, **k):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(session, "get_spark", no_session)
    monkeypatch.setattr(sys, "argv", ["bench_subset.py", *argv])
    with pytest.raises(SystemExit) as exc:
        _load_tool().main()
    assert exc.value.code == 2
    assert "Usage" in capsys.readouterr().err


def test_every_query_warms_once_before_any_timed_run(monkeypatch):
    """Each spec runs N + 1 times: all warm-up runs come before the first
    clock read, and N times are reported per query."""
    mod = _load_tool()
    log: list[str] = []

    class _Clock:
        @staticmethod
        def time():
            log.append("clock")
            return float(len(log))

    class _Frame:
        def __init__(self, name):
            self.name = name

        def count(self):
            log.append(f"count:{self.name}")
            return 0

    class _Spec:
        def __init__(self, name):
            self.name = name

        def spark(self, spark, sf_dir):
            assert sf_dir == "/sf"
            log.append(f"build:{self.name}")
            return _Frame(self.name)

    monkeypatch.setattr(mod, "time", _Clock)
    specs = {n: _Spec(n) for n in ("q_a", "q_b")}
    n_runs = 3
    out = mod.time_queries(None, specs, "/sf", n_runs)

    assert {n: len(t) for n, t in out.items()} == {"q_a": n_runs, "q_b": n_runs}
    builds = [e for e in log if e.startswith("build:")]
    assert [builds.count(f"build:{n}") for n in specs] == [n_runs + 1] * 2
    first_clock = log.index("clock")
    assert log[:first_clock] == [
        "build:q_a", "count:q_a", "build:q_b", "count:q_b"
    ]
