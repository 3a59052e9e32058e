"""The benchmark's traced runs wrap named library entry points (each
phase's ``_install`` in ``perfbench/``). A refactor that renames or
removes one must fail here, in the test suite, not mid-way through a
traced benchmark run. The stub tracer only resolves each patch point; it
wraps nothing."""

import importlib

import pytest


class _ResolvingTracer:
    def __init__(self):
        self.points = []

    def patch(self, owner, attr, name, wrap=None):
        assert callable(getattr(owner, attr, None)), (
            f"{getattr(owner, '__name__', owner)}.{attr} ({name}) no longer resolves"
        )
        self.points.append((owner, attr))


@pytest.mark.parametrize("phase", ["tsdb", "stream", "analytics"])
def test_benchmark_patch_points_resolve(phase):
    tracer = _ResolvingTracer()
    importlib.import_module(f"perfbench.{phase}")._install(tracer)
    assert tracer.points
