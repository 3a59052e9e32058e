"""The benchmark's traced runs wrap named library entry points (each
phase's ``_install`` in ``perfbench/``). A refactor that renames or
removes one must fail here, in the test suite, not mid-way through a
traced benchmark run. The stub tracer only resolves each patch point; it
wraps nothing. A name that still resolves but is no longer called would
make its spans read 0, so the fetch patch points are also called through
with counters in their place."""

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


def test_forced_spark_fetches_pass_the_traced_fetch_spans(engine, monkeypatch):
    """The ``tsdb`` phase traces ``fetch.fetch_df`` and
    ``fetch.collect_values`` by patching these names on
    ``hoard_spark.engine``: a Spark-route ``fetch`` and ``fetch_many``
    must call both through that module, or the spans read 0 silently."""
    import hoard_spark.engine as eng_mod
    from hoard_spark.engine import HoardEngine

    calls = []
    for name in ("fetch_df", "collect_values"):
        real = getattr(eng_mod, name)

        def counted(*a, _name=name, _real=real, **kw):
            calls.append(_name)
            return _real(*a, **kw)

        monkeypatch.setattr(eng_mod, name, counted)
    now = 1_400_000_000
    engine.create("m", [(3600, 48)])
    engine.update_many("m", [(now - 3600, 1.0)], now=now)
    slow = HoardEngine(engine.spark, engine.warehouse_dir, fetch_driver_max_files=0)
    for fetch in (
        lambda: slow.fetch("m", now - 7200, now, now=now),
        lambda: slow.fetch_many(["m"], now - 7200, now, now=now),
    ):
        calls.clear()
        fetch()
        assert sorted(calls) == ["collect_values", "fetch_df"]


class _CountingTracer:
    """Puts a call counter, instead of a span, at each patch point."""

    def __init__(self, monkeypatch):
        self.monkeypatch = monkeypatch
        self.calls = []

    def patch(self, owner, attr, name, wrap=None):
        real = getattr(owner, attr)

        def counted(*a, **kw):
            self.calls.append(name)
            return real(*a, **kw)

        self.monkeypatch.setattr(owner, attr, counted)


def test_store_batches_and_compactions_pass_the_traced_stream_spans(
    spark, tmp_path, monkeypatch
):
    """The ``llm`` phase patches ``process_batch`` and ``compact`` on each
    dedup store class, in that order, and ``compact_flat`` on
    ``hoard_spark.streaming.compact``. A batch must fire its own store's
    span only — the two classes are siblings, so neither's spans nest in
    the other's — and a compaction must reach ``compact_flat`` through
    that module, or the spans read 0 silently."""
    from hoard_spark.streaming.neardup import NearDupIndex
    from hoard_spark.streaming.vectors import VectorDupIndex
    from perfbench import stream

    assert not issubclass(NearDupIndex, VectorDupIndex)
    assert not issubclass(VectorDupIndex, NearDupIndex)
    tracer = _CountingTracer(monkeypatch)
    stream._install(tracer)
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], "doc_id long, text string"
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.5, 0.2]), (2, [1.0, 0.0, 0.5, 0.2])],
        "vec_id long, embedding array<double>",
    )
    runs = [
        ("neardup", NearDupIndex(spark, str(tmp_path / "nd")), docs),
        ("vectors", VectorDupIndex(spark, str(tmp_path / "vd"), dim=4), vecs),
    ]
    for name, store, batch in runs:
        tracer.calls.clear()
        store.process_batch(batch, 0)
        assert tracer.calls == [f"stream.{name}"]
        assert store.matches().count() == 1
        tracer.calls.clear()
        store.compact()
        assert tracer.calls == ["stream.compact"] + 2 * [
            "stream.compact_files"
        ]
