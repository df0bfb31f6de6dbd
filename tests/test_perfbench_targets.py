"""The benchmark's traced runs (``perfbench/run.py --trace 1``) wrap engine
functions by module attribute.  Renaming or removing one of them must fail
here instead of silently breaking the traced benchmark: each workload's
``_instrument`` runs against a tracer stub whose ``wrap`` only looks the
attribute up."""

from __future__ import annotations

import importlib
import os
from types import SimpleNamespace

import pytest

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


class _LookupTracer:
    def __init__(self):
        self.wrapped = []

    def wrap(self, owner, attr: str, name: str) -> None:
        assert callable(getattr(owner, attr)), f"{owner}.{attr}"
        self.wrapped.append(name)


@pytest.mark.parametrize("workload", ["wl_index", "wl_graph"])
def test_instrumented_engine_functions_exist(workload, monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    module = importlib.import_module(workload)
    tracer = _LookupTracer()
    module._instrument(SimpleNamespace(tracer=tracer))
    assert tracer.wrapped
