"""The ``tsdb`` phase: the hoard API under writes beside reads.

32 metrics share one 3-tier policy. Their history is backfilled as equal
multi-metric ``ingest_microbatch`` batches, then a closed loop runs on a
simulated clock; one iteration is a recent single-series fetch of
every metric, a 10-point ``update_many`` flush to one metric, the recent
fetch of every metric again, one 8-series ``fetch_many`` and one 30-day
fetch. The first backfill batch and the first iteration are
set-up (warm-up); the rest is timed. Every fetch is checked, outside its timing, against
``TsdbModel``; after the loop, every metric's whole tier-0 history and
the 30-day and 1-year tiers of four metrics are checked too.
"""

from __future__ import annotations

from perfbench import gen
from perfbench.layers import mean, ms, span_walls
from perfbench.layers import spark_scope_metrics, tree_files
from perfbench.model import TsdbModel, same_values
from perfbench.stats import median, percentile

WARMUP_ITERATIONS = 1
# Four iterations make 256 recent fetches; the two untraced ones of a
# traced run make 128, enough for a p90 with ten samples beyond it.
MIN_ITERATIONS = 4
SCHEMA = "metric string, ts long, value double"
KINDS = ("backfill", "write", "fetch", "fetch_many", "fetch_history")


def _install(tracer) -> None:
    import hoard_spark.engine as engine
    import hoard_spark.streaming.ingest as sing
    from hoard_spark.catalog import Catalog
    from hoard_spark.fsutil import WarehouseFS
    from hoard_spark.ingest import Ingestor

    tracer.patch(Catalog, "info", "catalog.info")
    tracer.patch(Catalog, "touch", "catalog.touch")
    tracer.patch(Catalog, "touch_many", "catalog.touch")
    tracer.patch(Ingestor, "prepare", "ingest.prepare")
    tracer.patch(sing, "prepare_batch_multi", "ingest.prepare")
    tracer.patch(Ingestor, "write", "ingest.write")
    tracer.patch(sing, "ingest_microbatch", "ingest.microbatch")
    tracer.patch(engine.HoardEngine, "propagate_many", "rollup.propagate")
    for name in ("plan_fetch", "fetch_df", "collect_values"):
        tracer.patch(engine, name, f"fetch.{name}")
    for name in ("list_date_files", "listdir"):
        tracer.patch(WarehouseFS, name, "fsutil.list")
    tracer.patch(WarehouseFS, "read_bytes", "fsutil.read")


class _Checker:
    """Counts operations and the ones whose output disagrees with the
    model."""

    def __init__(self, model: TsdbModel):
        self.model = model
        self.attempted = 0
        self.failures: list[str] = []

    def op(self, ok: bool = True, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def matches(self, metric: str, ti, values, lo: int, hi: int, now: int) -> bool:
        (f, t, step), want = self.model.fetch(metric, lo, hi, now)
        exact = step == gen.POLICY[0][0]
        got = (ti.from_interval, ti.to_interval, ti.step)
        return got == (f, t, step) and same_values(values, want, exact)

    def fetch(self, what: str, metric: str, ti, values, lo: int, hi: int, now: int) -> None:
        ok = self.matches(metric, ti, values, lo, hi, now)
        self.op(ok, f"{what} {metric} [{lo},{hi}) at {now}")


def prepare(ctx) -> dict:
    import hoard_spark.streaming.ingest as sing
    from hoard_spark import HoardEngine

    spark = ctx.spark
    if ctx.tracer is not None:
        _install(ctx.tracer)
    policy = [(m, gen.POLICY, gen.XFF) for m in gen.metric_names()]
    now0 = gen.tsdb_start(ctx.seed)

    warehouse = ctx.tmp / "warehouse"
    eng = HoardEngine(spark, str(warehouse))
    eng.create_many(policy, now=now0 - gen.HISTORY_S)
    batches = gen.backfill(ctx.seed, now0)
    frames = [spark.createDataFrame(b, SCHEMA) for b in batches]
    st = {
        "eng": eng,
        "warehouse": warehouse,
        "now0": now0,
        "batches": batches,
        "frames": frames,
        "model": TsdbModel(gen.POLICY, gen.XFF),
        "loop": gen.TsdbLoop(ctx.seed, now0),
    }
    # Warm-up, untimed but checked: the first backfill batch and the first
    # loop iterations, so no timed op pays a first-use cost.
    sing.ingest_microbatch(eng, frames[0], 0, now=now0)
    st["model"].write_batch(batches[0], now0)
    st["check"] = _Checker(st["model"])
    for _ in range(WARMUP_ITERATIONS):
        _iteration(st, st["loop"].next(), None, traced=False)
    return st


def _iteration(st: dict, it: dict, timed, traced: bool) -> None:
    """One loop iteration; ``timed(kind, fn, traced)`` times an op, or
    None runs it untimed."""
    eng, check, model = st["eng"], st["check"], st["model"]
    run = timed or (lambda kind, fn, traced: fn())
    now, lo = it["now"], it["now"] - gen.RECENT_S

    def recent() -> None:
        for metric in it["fetch"]:
            ti, values = run("fetch", lambda: eng.fetch(metric, lo, now, now=now), traced)
            check.fetch("fetch", metric, ti, values, lo, now, now)

    # Two passes of recent fetches, one on each side of the flush, give
    # the p90 twice the samples and two spells of host speed per
    # iteration. The second pass sees the flush.
    recent()
    run("write", lambda: eng.update_many(it["metric"], it["points"], now=now), traced)
    check.op()
    model.update_many(it["metric"], it["points"], now)
    recent()
    ti, series = run(
        "fetch_many", lambda: eng.fetch_many(it["fetch_many"], lo, now, now=now), traced
    )
    bad = [m for m in it["fetch_many"] if not check.matches(m, ti, series[m], lo, now, now)]
    check.op(not bad, f"fetch_many {bad} [{lo},{now}) at {now}")
    wide_lo = now - gen.WIDE_S
    ti, values = run("fetch_history", lambda: eng.fetch(it["wide"], wide_lo, now, now=now), traced)
    check.fetch("fetch_history", it["wide"], ti, values, wide_lo, now, now)


def measure(ctx, st: dict) -> dict:
    import hoard_spark.streaming.ingest as sing

    tracer, eng, warehouse, now0 = ctx.tracer, st["eng"], st["warehouse"], st["now0"]
    model, check, loop = st["model"], st["check"], st["loop"]
    walls = {k: [] for k in KINDS}
    untraced_fetch: list[float] = []
    files_per_write: list[int] = []

    def timed(kind: str, fn, traced: bool = True):
        with ctx.op(kind, kind, traced) as rec:
            out = fn()
        walls[kind].append(rec["wall"])
        if kind == "fetch" and not rec["traced"]:
            untraced_fetch.append(rec["wall"])
        return out

    for i, (rows, df) in enumerate(zip(st["batches"][1:], st["frames"][1:]), start=1):
        timed("backfill", lambda: sing.ingest_microbatch(eng, df, i, now=now0))
        check.op()
        model.write_batch(rows, now0)

    n = 0
    while n < MIN_ITERATIONS or ctx.time_left() > 0:
        # A traced run traces iterations in the pattern T U U T, so the
        # untraced ones measure the tracing overhead free of a linear
        # warming trend.
        traced = n % 4 in (0, 3)
        before = tree_files(str(warehouse / "points"))[0] if tracer else 0
        _iteration(st, loop.next(), timed, traced)
        if tracer is not None and traced:
            files_per_write.append(tree_files(str(warehouse / "points"))[0] - before)
        n += 1

    now = loop.now
    names = gen.metric_names()
    for metric in names:
        lo = now - gen.HISTORY_S - 3600
        ti, values = eng.fetch(metric, lo, now, now=now)
        check.fetch("history", metric, ti, values, lo, now, now)
    for metric in names[:: len(names) // 4]:
        for span in (gen.WIDE_S, 365 * 86400):
            ti, values = eng.fetch(metric, now - span, now, now=now)
            check.fetch("coarse", metric, ti, values, now - span, now, now)

    points = sum(len(b) for b in st["batches"][1:])
    wall_ms = {k: [ms(w) for w in v] for k, v in walls.items()}
    named = {
        "ingest_points_per_s": {
            "value": points / sum(walls["backfill"]), "unit": "points/s", "n": len(walls["backfill"])
        },
    }
    for k in ("write", "fetch", "fetch_many", "fetch_history"):
        named[f"{k}_p50_ms"] = {"value": median(wall_ms[k]), "unit": "ms", "n": len(wall_ms[k])}
    named["samples_ms"] = {k: wall_ms[k] for k in ("backfill", "write", "fetch_many", "fetch_history")}
    # Untraced fetches only, so a traced run's figures carry no tracing
    # cost. The recent fetch's end-to-end figure is its p90, not its
    # median: on a shared host the median jumps between two speed modes
    # of this 2 ms driver-side work, while the p90 sits in the slower one.
    fetch_ms = [ms(w) for w in untraced_fetch]
    named["fetch_p90_ms"] = {"value": percentile(fetch_ms, 90), "unit": "ms", "n": len(fetch_ms)}
    layers = {}
    if tracer is not None:
        files, size = tree_files(str(warehouse))
        layers = _layers(tracer, ctx.cores, files_per_write)
        layers["fetch_p50_ms"] = median(fetch_ms)
        layers["warehouse.files"] = files
        layers["warehouse.bytes_per_point"] = size / (sum(map(len, st["batches"])) + 10 * n)
    return {
        "attempted": check.attempted,
        "failures": check.failures,
        "e2e": {
            "bulk_s": sum(walls["backfill"]),
            "write_ms": named["write_p50_ms"]["value"],
            "read_ms": named["fetch_p90_ms"]["value"],
        },
        "named": named,
        "layers": layers,
    }


def _layers(tracer, cores: int, files_per_write: list[int]) -> dict:
    spans, ops = tracer.spans, [o for o in tracer.ops if o["kind"] in KINDS]
    traced = [o for o in ops if o["traced"]]
    by_kind = {k: [o for o in traced if o["kind"] == k] for k in KINDS}
    loop_ops = [o for o in traced if o["kind"] != "backfill"]
    reads = by_kind["fetch"] + by_kind["fetch_many"]
    info = [s["end"] - s["start"] for s in spans if s["name"] == "catalog.info"]

    def per_op(sel: list[dict], name: str) -> float:
        """Mean over ``sel`` of the summed wall of ``name`` spans."""
        return mean(sum(span_walls(spans, o["op"], name)) for o in sel)

    def calls_per_op(sel: list[dict], name: str) -> float:
        return mean(len(span_walls(spans, o["op"], name)) for o in sel)

    out = {
        "catalog.info_ms": ms(mean(info)),
        "catalog.calls_per_op": calls_per_op(loop_ops, "catalog.info"),
        "ingest.prepare_ms": ms(per_op(by_kind["write"], "ingest.prepare")),
        "ingest.write_ms": ms(per_op(by_kind["write"], "ingest.write")),
        "ingest.files_per_write": mean(files_per_write),
        "ingest.microbatch_ms": ms(per_op(by_kind["backfill"], "ingest.microbatch")),
        "rollup.propagate_ms": ms(per_op(by_kind["write"], "rollup.propagate")),
        "rollup.share_of_write": mean(
            sum(span_walls(spans, o["op"], "rollup.propagate")) / o["wall"] for o in by_kind["write"]
        ),
        "fetch.driver_route_share": mean(o["spark"]["jobs"] == 0 for o in reads),
        "fetch.files_per_fetch": calls_per_op(by_kind["fetch"], "fsutil.read"),
        "fsutil.list_ms": ms(per_op(reads, "fsutil.list")),
        "fetch.history_jobs": mean(o["spark"]["jobs"] for o in by_kind["fetch_history"]),
    }
    out.update(spark_scope_metrics(traced, cores))
    return out
