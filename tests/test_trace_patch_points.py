"""The benchmark's traced run (``perfbench/run.py --trace 1``) swaps
wrappers into engine modules by attribute name. A refactor that renames or
drops one of those names would silently break it; this guard needs no
Spark session."""

import types

from perfbench.tracing import Tracer, instrument, restore


def test_instrument_swaps_callables_and_restore_puts_them_back():
    originals = instrument(Tracer(types.SimpleNamespace(sparkContext=None)))
    try:
        assert originals
        for module, attr, fn in originals:
            assert callable(fn), f"{module.__name__}.{attr}"
            assert getattr(module, attr) is not fn, f"{module.__name__}.{attr} not swapped"
    finally:
        restore(originals)
    for module, attr, fn in originals:
        assert getattr(module, attr) is fn, f"{module.__name__}.{attr} not restored"
