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
