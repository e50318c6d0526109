"""The benchmark's layer tracer wraps program functions by module and name
(``perfbench/layers.py``): renaming or deleting one of them must fail here,
not in a traced benchmark run."""

from __future__ import annotations


def test_tracer_installs_and_restores_every_patch(spark):
    from perfbench.layers import Tracer

    tracer = Tracer(spark)
    try:  # a name missing halfway must not leave the earlier patches in
        tracer.install()
        patched = list(tracer.patches)
        assert patched
        assert all(getattr(m, attr) is not orig for m, attr, orig in patched)
    finally:
        tracer.unpatch()
    assert all(getattr(m, attr) is orig for m, attr, orig in patched)
