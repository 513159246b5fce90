"""The benchmark's traced run (``perfbench/run.py --trace 1``) wraps dvx
entry points by name at ``Tracer.install()``, and the scripts under
``tools/`` and ``bench/`` import dvx names (private helpers among them)
that no test otherwise runs. Every such name must resolve on this tree,
so an engine refactor that renames or drops one fails here instead of
at the script's first run."""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os

import pytest

from dvx.lake import LakeTable

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TRACE = os.path.join(_ROOT, "perfbench", "trace.py")


@pytest.fixture(scope="module")
def trace():
    # perfbench/ is a script directory, not a package: load by path
    spec = importlib.util.spec_from_file_location("perfbench_trace", _TRACE)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_traced_functions_resolve(trace):
    assert trace.FUNCTIONS
    for mod_name, attr, _layer in trace.FUNCTIONS:
        mod = importlib.import_module(mod_name)
        assert callable(getattr(mod, attr, None)), f"{mod_name}.{attr}"


def test_traced_lake_ops_resolve(trace):
    assert trace.LAKE_OPS
    for op in (*trace.LAKE_OPS, "read"):
        assert callable(getattr(LakeTable, op, None)), f"LakeTable.{op}"


def _dvx_imports(path: str):
    """(module, name) of every ``from dvx… import name`` in a script,
    read from its syntax tree — the script itself never runs."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == "dvx":
            for alias in node.names:
                yield node.module, alias.name


@pytest.mark.parametrize("script_dir", ["tools", "bench"])
def test_script_dvx_imports_resolve(script_dir):
    scripts = sorted(glob.glob(os.path.join(_ROOT, script_dir, "*.py")))
    found = 0
    for path in scripts:
        for mod_name, name in _dvx_imports(path):
            found += 1
            mod = importlib.import_module(mod_name)
            submodule = hasattr(mod, "__path__") and importlib.util.find_spec(
                f"{mod_name}.{name}"
            )
            assert hasattr(mod, name) or submodule, (
                f"{os.path.relpath(path, _ROOT)}: from {mod_name} import {name}"
            )
    assert found
