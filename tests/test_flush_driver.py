"""Driver-side ``update_many`` flush: a small flush folds the touched
partitions and recomputes the rollup cascade with no Spark job.

Parity is pinned the way the fetch short-circuit's is: the same flushes
run through a default engine and through a ``fetch_driver_max_files=0``
twin (the Spark reference path) over separate warehouses, and the
logical tables — LWW points, rollup rows with ``known``, fetches — must
agree. Also pinned: no Spark job on the route, each fallback condition,
a latency budget, and last-write-wins across ``update_many`` and
micro-batch writers (one warehouse-wide write sequence).
"""

from __future__ import annotations

import json
import time

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from hoard_spark.engine import HoardEngine
from hoard_spark.ingest import lww
from hoard_spark.streaming.ingest import ingest_microbatch

DAY = 86400
NOW = 1_700_000_000 - 1_700_000_000 % DAY + 13 * 3600
# 10 min for 2 days, 1 h for 8 days, 4 h for 60 days: 6 and 4 children
# per coarse bucket, so random flushes both pass and fail xff = 0.5
POLICY = [(600, 288), (3600, 192), (4 * 3600, 360)]
XFF = 0.5


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return the Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"flush-{time.perf_counter_ns()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _tables(eng):
    """(LWW points, rollup rows) keyed by (tier, bucket_ts); a rollup
    bucket must never appear twice."""
    points = {
        (r["tier"], r["bucket_ts"]): r["value"]
        for r in lww(eng._read_points()).collect()
    }
    rows = eng._read_rollups().collect()
    rollups = {(r["tier"], r["bucket_ts"]): (r["value"], r["known"]) for r in rows}
    assert len(rollups) == len(rows)
    return points, rollups


def _same(a, b, exact):
    if exact:
        return a == b
    if isinstance(a, tuple):
        return a[1:] == b[1:] and _same(a[0], b[0], exact)
    return a is None and b is None or a == pytest.approx(b, rel=1e-12)


def _same_map(a, b, exact):
    return a.keys() == b.keys() and all(_same(a[k], b[k], exact) for k in a)


# A flush clusters its points around one age: beside the tier-0/1 and
# tier-1/2 retention boundaries (where one coarse bucket gets both rolled
# children and direct points, and the rollup side must win), beside now
# (future points) or max retention (too old), or anywhere; narrow offsets
# make buckets collide (LWW, xff passes), wide ones span days.
_flush = st.tuples(
    st.sampled_from([3600, 2 * DAY, 8 * DAY, 60 * DAY]) | st.integers(0, 62 * DAY),
    st.lists(
        st.tuples(
            st.integers(-2 * 3600, 2 * 3600) | st.integers(-3 * DAY, 3 * DAY),
            st.integers(0, 1000),
        ),
        min_size=1,
        max_size=12,
    ),
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    flushes=st.lists(_flush, min_size=1, max_size=3),
    shift=st.integers(0, 3599),
    integral=st.booleans(),
)
@example(  # three tier-0 children and a direct tier-1 point in one hour
    flushes=[
        (2 * DAY, [(-5, 1), (-605, 2), (-1205, 3)]),
        (2 * DAY, [(300, 50)]),
    ],
    shift=0,
    integral=True,
)
def test_driver_flush_matches_spark_path(
    spark, tmp_path_factory, flushes, shift, integral
):
    """Random flushes — LWW rewrites, points routed straight to coarse
    tiers beside rolled-up buckets, xff-rejected buckets, multi-day
    spans, all-invalid batches — leave the same logical tables on the
    driver route and on the Spark path."""
    root = tmp_path_factory.mktemp("flush")
    fast = HoardEngine(spark, str(root / "fast"))
    slow = HoardEngine(spark, str(root / "slow"), fetch_driver_max_files=0)
    for eng in (fast, slow):
        eng.create("m", POLICY, x_files_factor=XFF, now=NOW - 90 * DAY)
    for i, (center, flush) in enumerate(flushes):
        now = NOW + shift + i * 600
        pts = [
            (now - center - off, float(v) if integral else v / 7.0 + 0.1)
            for off, v in flush
        ]
        for eng in (fast, slow):
            eng.update_many("m", pts, now=now)
    points_f, rollups_f = _tables(fast)
    points_s, rollups_s = _tables(slow)
    assert _same_map(points_f, points_s, integral)
    assert _same_map(rollups_f, rollups_s, integral)
    for frm in (now - 6 * 3600, now - 5 * DAY, now - 59 * DAY):
        ti_f, v_f = fast.fetch("m", frm, now, now=now)
        ti_s, v_s = slow.fetch("m", frm, now, now=now)
        assert tuple(ti_f) == tuple(ti_s)
        assert all(_same(a, b, integral) for a, b in zip(v_f, v_s))


def test_driver_flush_runs_no_spark_job(spark, tmp_path):
    eng = HoardEngine(spark, str(tmp_path / "wh"))
    eng.create("m", POLICY, x_files_factor=XFF)
    eng.update_many("m", [(NOW - 600 * i, float(i)) for i in range(20)], now=NOW)
    pts = [(NOW - 600 * i - 5, 100.0 + i) for i in range(4)]
    assert _jobs(spark, lambda: eng.update_many("m", pts, now=NOW)) == []
    _, values = eng.fetch("m", NOW - 3600, NOW, now=NOW)
    assert values == [5.0, 103.0, 102.0, 101.0, 100.0, 0.0]
    # the flush folded its partitions: one file each, not one more
    assert set(eng.partition_file_counts("m").values()) == {1}


def _fallback_case(spark, eng, metric, pts):
    """A flush the route must decline: it launches Spark jobs and still
    lands the write."""
    jobs = _jobs(spark, lambda: eng.update_many(metric, pts, now=NOW))
    assert jobs, "expected the Spark path"
    _, values = eng.fetch(metric, NOW - 3600, NOW, now=NOW)
    assert pts[0][1] in values


def test_bucketed_layout_takes_spark_path(spark, tmp_path):
    eng = HoardEngine(spark, str(tmp_path / "mb"), metric_buckets=4)
    eng.create("m", POLICY, x_files_factor=XFF)
    eng.update_many("m", [(NOW - 1200, 1.0)], now=NOW)
    _fallback_case(spark, eng, "m", [(NOW - 600, 2.0)])


def test_escaped_metric_name_takes_spark_path(spark, tmp_path):
    eng = HoardEngine(spark, str(tmp_path / "esc"))
    eng.create("a b=c", POLICY, x_files_factor=XFF)
    eng.update_many("a b=c", [(NOW - 1200, 1.0)], now=NOW)
    _fallback_case(spark, eng, "a b=c", [(NOW - 600, 2.0)])


def test_over_budget_flush_takes_spark_path(spark, tmp_path):
    """Budget 2: the flush needs the tier-0 file plus the tier-1 and
    tier-2 rollup files it replaces — over budget, so Spark writes."""
    eng = HoardEngine(spark, str(tmp_path / "ob"))
    eng.create("m", POLICY, x_files_factor=0.0)
    eng.update_many("m", [(NOW - 1200, 1.0)], now=NOW)
    eng.fetch_driver_max_files = 2
    _fallback_case(spark, eng, "m", [(NOW - 600, 2.0)])
    eng.fetch_driver_max_files = 32
    assert _jobs(spark, lambda: eng.update_many("m", [(NOW - 5, 3.0)], now=NOW)) == []


def test_flush_latency_budget(spark, tmp_path):
    """The point of the route: a 10-point flush into a 3-tier metric
    costs milliseconds, not the Spark path's seconds. p50 of 7 flushes
    after one warm-up must be under 250 ms."""
    eng = HoardEngine(spark, str(tmp_path / "lat"))
    eng.create("m", POLICY, x_files_factor=XFF)
    eng.update_many("m", [(NOW - 600 * i, float(i)) for i in range(60)], now=NOW)
    samples = []
    for k in range(8):
        pts = [(NOW - 60 * i - k, float(i + k)) for i in range(10)]
        t0 = time.perf_counter()
        eng.update_many("m", pts, now=NOW)
        samples.append(time.perf_counter() - t0)
    samples = sorted(samples[1:])
    assert samples[len(samples) // 2] < 0.25, samples


def _microbatch(spark, eng, value, batch_id):
    df = spark.createDataFrame(
        [("m", NOW - 605, float(value))], "metric string, ts long, value double"
    )
    ingest_microbatch(eng, df, batch_id, now=NOW)


@pytest.mark.parametrize("max_files", [32, 0])
def test_flush_after_microbatch_wins(spark, tmp_path, max_files):
    eng = HoardEngine(spark, str(tmp_path / "wh"), fetch_driver_max_files=max_files)
    eng.create("m", POLICY, x_files_factor=XFF)
    _microbatch(spark, eng, 1.0, batch_id=7)
    eng.update_many("m", [(NOW - 610, 2.0)], now=NOW)
    _, values = eng.fetch("m", NOW - 1800, NOW, now=NOW)
    assert values == [2.0, None, None]


@pytest.mark.parametrize("max_files", [32, 0])
def test_microbatch_after_flush_wins(spark, tmp_path, max_files):
    eng = HoardEngine(spark, str(tmp_path / "wh"), fetch_driver_max_files=max_files)
    eng.create("m", POLICY, x_files_factor=XFF)
    eng.update_many("m", [(NOW - 610, 2.0)], now=NOW)
    _microbatch(spark, eng, 1.0, batch_id=0)
    _, values = eng.fetch("m", NOW - 1800, NOW, now=NOW)
    assert values == [1.0, None, None]


@pytest.mark.parametrize("max_files", [32, 0])
def test_all_invalid_flush_leaves_last_update(spark, tmp_path, max_files):
    """A flush whose every point is dropped (future, too old) writes
    nothing, so neither route moves the metric's lastUpdate."""
    eng = HoardEngine(spark, str(tmp_path / "wh"), fetch_driver_max_files=max_files)
    eng.create("m", POLICY, x_files_factor=XFF, now=NOW - DAY)
    before = eng.info("m").last_update
    eng.update_many("m", [(NOW + 60, 1.0), (NOW - 400 * DAY, 2.0)], now=NOW)
    assert eng.info("m").last_update == before


def test_legacy_seq_file_starts_above_disk(spark, tmp_path):
    """A warehouse from before the shared allocator — per-metric counters
    in the seq file, micro-batch rows with ``batch_id << 40`` seqs on disk
    — starts the allocator above both, so a flush still wins."""
    wh = tmp_path / "legacy"
    eng = HoardEngine(spark, str(wh))
    eng.create("m", POLICY, x_files_factor=XFF)
    df = spark.createDataFrame(
        [("m", NOW - 605, 1.0, 3 << 40)],
        "metric string, ts long, value double, seq long",
    )
    ingest_microbatch(eng, df, 3, now=NOW)
    (wh / "_hoard_seq.json").write_text(json.dumps({"m": 5}))
    eng.update_many("m", [(NOW - 610, 2.0)], now=NOW)
    _, values = eng.fetch("m", NOW - 1800, NOW, now=NOW)
    assert values == [2.0, None, None]
    state = json.loads((wh / "_hoard_seq.json").read_text())
    assert state == {"scope": "warehouse", "next": (3 << 40) + 2}
