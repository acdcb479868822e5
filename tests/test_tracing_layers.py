"""The repo benchmark's tracer (perfbench/tracing.py) wraps engine callables
by name, and ``Tracer.install()`` fails on a name that no longer resolves.
These checks catch a rename in the tier-1 suite instead of in a traced
benchmark run."""

from __future__ import annotations

import importlib
import os

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "perfbench")


def _tracing(monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    return importlib.import_module("tracing")


def test_every_traced_callable_resolves(monkeypatch):
    tracing = _tracing(monkeypatch)
    for layer, calls in tracing.LAYERS.items():
        for mod_name, qual in calls:
            obj = importlib.import_module(f"{tracing.PKG}.{mod_name}")
            for attr in qual.split("."):
                obj = getattr(obj, attr, None)
                assert obj is not None, f"{layer}: {mod_name}.{qual}"
            assert callable(obj), f"{layer}: {mod_name}.{qual}"


def test_batch_dqa_binds_the_traced_layers(monkeypatch):
    """run_data_dqa is traced through the module-level names it calls, so
    plans.dqa must bind each batch layer's callable by name."""
    tracing = _tracing(monkeypatch)
    dqa = importlib.import_module(f"{tracing.PKG}.plans.dqa")
    for layer in tracing.BATCH_LAYERS:
        if not layer.startswith("plans."):
            continue    # the report write happens in the caller
        for mod_name, qual in tracing.LAYERS[layer]:
            mod = importlib.import_module(f"{tracing.PKG}.{mod_name}")
            assert getattr(dqa, qual, None) is getattr(mod, qual), qual
