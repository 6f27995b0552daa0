"""One implementation per kernel: no public function in functions/ or
operators/ may take an ``impl`` option. A second code path that only a
forced option reaches is the engine checking itself; the DuckDB oracles
are the reference (tests/test_impl_equivalence.py)."""

from __future__ import annotations

import importlib
import inspect
import pkgutil

import espkinesis_spark.functions
import espkinesis_spark.operators


def _public_functions():
    for pkg in (espkinesis_spark.functions, espkinesis_spark.operators):
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
            for name, fn in inspect.getmembers(mod, inspect.isfunction):
                if fn.__module__ == mod.__name__ and not name.startswith("_"):
                    yield f"{mod.__name__}.{name}", fn


def test_no_public_function_takes_impl():
    found = list(_public_functions())
    assert len(found) > 100  # both packages were actually walked
    offenders = [
        name for name, fn in found if "impl" in inspect.signature(fn).parameters
    ]
    assert offenders == []
