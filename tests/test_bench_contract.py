"""The benchmark's traced run (``perfbench/run.py --trace 1``) wraps dvx
entry points by name at ``Tracer.install()``. Every name it looks up
must resolve on this tree, so an engine refactor that renames or drops
one fails here instead of at the benchmark's install step."""

from __future__ import annotations

import importlib
import importlib.util
import os

import pytest

from dvx.lake import LakeTable

_TRACE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench", "trace.py",
)


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
