"""tools/scale_curve.py argument guard: a non-integer or non-positive
multiplier prints usage and exits 2 before any Spark session starts."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

_TOOL = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "scale_curve.py")


def _load_tool():
    spec = importlib.util.spec_from_file_location("scale_curve", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize(
    "argv",
    [["4", "x16"], ["0"], ["4", "-2"], ["--help"]],
    ids=["non_int", "zero", "negative", "help"],
)
def test_bad_multiplier_exits_with_usage(monkeypatch, capsys, argv):
    from erddap2agol_spark import session

    def no_session(*a, **k):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(session, "get_spark", no_session)
    monkeypatch.setattr(sys, "argv", ["scale_curve.py", *argv])
    with pytest.raises(SystemExit) as exc:
        _load_tool().main()
    assert exc.value.code == 2
    assert "Usage" in capsys.readouterr().err


def test_multipliers_sorted_and_defaulted():
    tool = _load_tool()
    assert tool._parse_mults(["16", "4", "16"]) == [4, 16]
    assert tool._parse_mults([]) == list(tool.MULTS)
