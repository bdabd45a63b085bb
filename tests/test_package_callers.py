"""Every package module has a caller outside ``tests/``.

Builds the import graph of ``erddap2agol_spark/`` plus the repo's own
entry points (``bench.py``, ``__spark_entry__.py``, ``tools/`` and
``perfbench/``) with ``ast`` -- top-level, function-local and relative
imports alike -- and fails naming each package module that none of them
imports.  A module that only its own tests call is code to delete, not
to keep.
"""

from __future__ import annotations

import ast
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = "erddap2agol_spark"

# Waiting for a caller: ROADMAP item 4 wires the Observation gate into
# the operators' report.
ALLOWED_WITHOUT_CALLER = frozenset({f"{_PKG}.plans.observe"})


def _py_files(root: str) -> list[str]:
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, _REPO)[: -len(".py")].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


def _imported(source: str, name: str, is_pkg: bool = False) -> set[str]:
    """Dotted names the module ``name`` imports, relative imports
    resolved; for ``from X import a`` both ``X`` and ``X.a`` (``a`` may
    be a module)."""
    package = name.split(".") if is_pkg else name.split(".")[:-1]
    found: set[str] = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package[: len(package) - node.level + 1]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module
            found.add(mod)
            found.update(f"{mod}.{a.name}" for a in node.names)
    return found


def _modules_without_caller() -> list[str]:
    pkg_files = _py_files(os.path.join(_REPO, _PKG))
    callers = pkg_files + [
        os.path.join(_REPO, "bench.py"),
        os.path.join(_REPO, "__spark_entry__.py"),
        *_py_files(os.path.join(_REPO, "tools")),
        *_py_files(os.path.join(_REPO, "perfbench")),
    ]
    imported: set[str] = set()
    for path in callers:
        me = _module_name(path)
        with open(path, encoding="utf-8") as f:
            source = f.read()
        is_pkg = os.path.basename(path) == "__init__.py"
        imported |= _imported(source, me, is_pkg) - {me}
    return sorted(
        m
        for m in (
            _module_name(p)
            for p in pkg_files
            if os.path.basename(p) not in ("__init__.py", "__main__.py")
        )
        if m not in ALLOWED_WITHOUT_CALLER and m not in imported
    )


def test_every_package_module_has_a_non_test_caller():
    orphans = _modules_without_caller()
    assert not orphans, (
        "package modules imported only by tests (wire them or delete "
        f"them with their tests): {orphans}"
    )


def test_relative_and_function_local_imports_resolve():
    source = (
        "import json\n"
        "from . import audit\n"
        "def f():\n"
        "    from ..operators import dedup\n"
        "    from .snapshots import snapshot\n"
    )
    got = _imported(source, f"{_PKG}.plans.probe")
    assert got == {
        "json",
        f"{_PKG}.plans",
        f"{_PKG}.plans.audit",
        f"{_PKG}.operators",
        f"{_PKG}.operators.dedup",
        f"{_PKG}.plans.snapshots",
        f"{_PKG}.plans.snapshots.snapshot",
    }
    assert _imported("from . import lm_queries\n", f"{_PKG}.queries", True) >= {
        f"{_PKG}.queries.lm_queries"
    }
