"""The benchmark's traced run wraps engine attributes by name
(``perfbench/layers.py``). Installing its hooks fails here, not in the
next traced benchmark run, when an engine refactor renames one of them.
No Spark session needed."""

from __future__ import annotations


def test_traced_run_hooks_resolve():
    from perfbench import layers, trace

    t = trace.Tracer()
    layers.install(t)
    t.uninstall()
