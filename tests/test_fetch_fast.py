"""Driver-side fetch short-circuit (VERDICT r6 item 6).

A small-window fetch must skip the Spark job — the pruned partition list
is read through the Hadoop FS API and LWW-merged in Python — while
returning EXACTLY the values the Spark plan produces. Parity is pinned
by running both paths over the same warehouse (`fetch_driver_max_files=0`
forces the Spark plan on an otherwise identical engine instance).
"""

from __future__ import annotations

import time

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hoard_spark.engine import HoardEngine

DAY = 86400
NOW = 1_700_000_000 - 1_700_000_000 % 3600  # hour-aligned for readability


def _mk(spark, tmp_path, name="wh", **kw) -> HoardEngine:
    return HoardEngine(spark, str(tmp_path / name), **kw)


@pytest.fixture()
def loaded(spark, tmp_path):
    """One warehouse, two engine handles (fast-path on / forced-Spark),
    with 3 days of hourly data including LWW overwrites and gaps, plus a
    materialized daily rollup."""
    # default file budget (32): both flushes take the driver route, which
    # folds each touched date dir to ONE file, so a 1-day window sees
    # 1-2 files — inside the budget, as a compacted warehouse would be
    eng = _mk(spark, tmp_path)
    eng.create("cpu.load", [(3600, 24 * 14), (DAY, 60)], x_files_factor=0.3)
    pts = []
    for h in range(72):
        ts = NOW - 72 * 3600 + h * 3600
        if h % 7 == 0:
            continue  # gaps -> null slots
        pts.append((ts + 60, float(h)))
    # old points (age > tier-0 retention of 14 d) age-route straight to
    # the daily tier; they power the materialized-rollup parity test
    for d in range(13, 16):
        pts.append((NOW - d * DAY + 7200, float(100 + d)))
    eng.update_many("cpu.load", pts, now=NOW)
    # LWW overwrite: same buckets, later seq must win on BOTH paths
    eng.update_many(
        "cpu.load",
        [(NOW - 10 * 3600 + 120, 999.5), (NOW - 9 * 3600 + 120, 998.5)],
        now=NOW,
    )
    slow = _mk(spark, tmp_path, fetch_driver_max_files=0)
    return eng, slow


def test_fast_path_matches_spark_path_tier0(loaded):
    eng, slow = loaded
    for frm, to in [
        (NOW - 26 * 3600, NOW - 2 * 3600),  # day-crossing window
        (NOW - 12 * 3600, NOW),  # includes the LWW overwrites
        (NOW - 3 * 3600, NOW - 3600 + 5),  # tiny window
    ]:
        ti_f, v_f = eng.fetch("cpu.load", frm, to, now=NOW)
        ti_s, v_s = slow.fetch("cpu.load", frm, to, now=NOW)
        assert tuple(ti_f) == tuple(ti_s)
        assert v_f == v_s, (frm, to)


def test_fast_path_matches_spark_path_materialized_rollup(loaded):
    """An old `from` routes to the daily tier, whose materialized rollup
    the fast path reads file-by-file."""
    eng, slow = loaded
    frm, to = NOW - 16 * DAY, NOW - 12 * DAY + 3600
    ti_f, v_f = eng.fetch("cpu.load", frm, to, now=NOW)
    ti_s, v_s = slow.fetch("cpu.load", frm, to, now=NOW)
    assert ti_f.step == DAY
    assert tuple(ti_f) == tuple(ti_s) and v_f == v_s
    assert any(v is not None for v in v_f), v_f


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    off_h=st.integers(min_value=1, max_value=70),
    width_h=st.integers(min_value=1, max_value=30),
)
def test_fast_path_parity_property(loaded, off_h, width_h):
    """Random windows over the fixture warehouse: both paths agree."""
    eng, slow = loaded
    frm = NOW - off_h * 3600 - 17
    to = min(NOW, frm + width_h * 3600 + 31)
    ti_f, v_f = eng.fetch("cpu.load", frm, to, now=NOW)
    ti_s, v_s = slow.fetch("cpu.load", frm, to, now=NOW)
    assert tuple(ti_f) == tuple(ti_s) and v_f == v_s


def test_fast_path_latency_budget(loaded):
    """The point of the short-circuit: a 1-day-window fetch answers in
    milliseconds, not the ~0.5 s Spark-job floor. p50 over 7 calls after
    one warm-up must be under 100 ms (VERDICT r6 item 6's budget; the
    shared host's p50 is ~10-30 ms, so 100 ms has real slack)."""
    eng, _ = loaded
    eng.fetch("cpu.load", NOW - DAY, NOW, now=NOW)  # warm-up (JVM refs)
    samples = []
    for _ in range(7):
        t0 = time.perf_counter()
        eng.fetch("cpu.load", NOW - DAY, NOW, now=NOW)
        samples.append(time.perf_counter() - t0)
    samples.sort()
    assert samples[len(samples) // 2] < 0.1, samples


def test_wide_window_falls_back_to_spark(loaded, monkeypatch):
    """A window whose partition list exceeds the file budget must take
    the Spark plan (and still be correct). Force it by shrinking the
    budget to 1 file."""
    eng, slow = loaded
    eng.fetch_driver_max_files = 1
    frm, to = NOW - 60 * 3600, NOW
    assert eng._fetch_fast_values is not None
    ti, v = eng.fetch("cpu.load", frm, to, now=NOW)
    ti_s, v_s = slow.fetch("cpu.load", frm, to, now=NOW)
    assert tuple(ti) == tuple(ti_s) and v == v_s


def test_escaped_metric_name_falls_back(spark, tmp_path):
    """Metric names Spark would escape in partition dirs (spaces, '=')
    skip the fast path but still fetch correctly via Spark."""
    from hoard_spark.fetch import TimeInfo

    eng = _mk(spark, tmp_path, name="esc")
    eng.create("a b=c", [(3600, 48)])
    eng.update_many("a b=c", [(NOW - 2 * 3600 + 5, 4.0)], now=NOW)
    ti = TimeInfo(NOW - 3 * 3600, NOW, 3600)
    assert eng._fetch_fast_values("a b=c", 0, ti) is None
    ti_out, v = eng.fetch("a b=c", NOW - 3 * 3600 - 5, NOW, now=NOW)
    assert 4.0 in v


def test_bucketed_layout_fast_path(spark, tmp_path):
    """Hash-bucketed warehouses keep metric as a data column inside
    mb=N partitions — the fast path must filter it row-wise and not
    leak a co-bucketed metric's points."""
    eng = _mk(spark, tmp_path, name="mb", metric_buckets=4)
    eng.create("m.one", [(3600, 48)])
    eng.create("m.two", [(3600, 48)])
    eng.update_many("m.one", [(NOW - 2 * 3600 + 5, 1.0)], now=NOW)
    eng.update_many("m.two", [(NOW - 2 * 3600 + 5, 2.0)], now=NOW)
    slow = HoardEngine(
        spark, str(tmp_path / "mb"), fetch_driver_max_files=0
    )
    for m, want in (("m.one", 1.0), ("m.two", 2.0)):
        ti_f, v_f = eng.fetch(m, NOW - 3 * 3600, NOW, now=NOW)
        ti_s, v_s = slow.fetch(m, NOW - 3 * 3600, NOW, now=NOW)
        assert v_f == v_s and want in v_f


def test_bucketed_layout_reads_escaped_name_on_driver(spark, tmp_path):
    """The bucketed layout's dirs are mb=N, so a name Spark would escape
    in a metric=M dir still reads driver-side (as hoard_fetch reads it)
    and equals the forced-Spark fetch."""
    from hoard_spark.fetch import TimeInfo

    eng = _mk(spark, tmp_path, name="mbesc", metric_buckets=4)
    for m in ("a b=c", "a b"):
        eng.create(m, [(3600, 48)])
    eng.update_many("a b=c", [(NOW - 2 * 3600 + 5, 4.0)], now=NOW)
    eng.update_many("a b", [(NOW - 2 * 3600 + 5, 5.0)], now=NOW)
    ti = TimeInfo(NOW - 2 * 3600, NOW + 3600, 3600)
    assert eng._fetch_fast_values("a b=c", 0, ti) == [4.0, None, None]
    slow = HoardEngine(
        spark, str(tmp_path / "mbesc"), fetch_driver_max_files=0
    )
    got = eng.fetch("a b=c", NOW - 3 * 3600, NOW, now=NOW)
    assert got == slow.fetch("a b=c", NOW - 3 * 3600, NOW, now=NOW)
    assert 4.0 in got[1] and 5.0 not in got[1]


def test_fetch_many_scalar_parity_and_fallback(loaded):
    """fetch_many (scalar): per-series fast path must equal per-metric
    fetch(); the forced-Spark fallback must equal it too."""
    eng, slow = loaded
    frm, to = NOW - 20 * 3600, NOW
    ti_m, series = eng.fetch_many(["cpu.load"], frm, to, now=NOW)
    ti_1, v_1 = eng.fetch("cpu.load", frm, to, now=NOW)
    assert tuple(ti_m) == tuple(ti_1) and series == {"cpu.load": v_1}
    ti_s, series_s = slow.fetch_many(["cpu.load"], frm, to, now=NOW)
    assert tuple(ti_s) == tuple(ti_m) and series_s == series


def test_fetch_many_scalar_multi_series(spark, tmp_path):
    eng = _mk(spark, tmp_path, name="many")
    for m in ("s.a", "s.b"):
        eng.create(m, [(3600, 48)])
    eng.update_many("s.a", [(NOW - 2 * 3600 + 5, 1.0)], now=NOW)
    eng.update_many("s.b", [(NOW - 3 * 3600 + 5, 2.0)], now=NOW)
    ti, series = eng.fetch_many(["s.a", "s.b"], NOW - 4 * 3600, NOW, now=NOW)
    assert set(series) == {"s.a", "s.b"}
    assert 1.0 in series["s.a"] and 2.0 in series["s.b"]
    slow = HoardEngine(
        spark, str(tmp_path / "many"), fetch_driver_max_files=0
    )
    ti_s, series_s = slow.fetch_many(
        ["s.a", "s.b"], NOW - 4 * 3600, NOW, now=NOW
    )
    assert tuple(ti) == tuple(ti_s) and series == series_s


def test_compact_bounds_file_counts_and_fast_path_survives(loaded):
    """compact() must leave exactly ONE parquet file per (tier, metric,
    date) partition — the groupBy scatters partition rows across tasks,
    so without the re-clustering repartition a compacted dir could hold
    up to shuffle.partitions files, defeating both the read-side bound
    and the fetch short-circuit's file budget. After compaction the
    fast path must still match the Spark path, and a window that
    previously exceeded a tight budget must now fit it."""
    eng, slow = loaded
    # the fixture's flushes leave one file per dir; appends through the
    # Spark path (the forced-Spark handle) fan the recent dirs out again
    for k in range(2):
        slow.update_many(
            "cpu.load",
            [(NOW - h * 3600 + 300 + k, float(500 + h)) for h in range(1, 72, 5)],
            now=NOW,
        )
    before = eng.partition_file_counts("cpu.load")
    assert before and max(before.values()) > 1  # Spark appends fan out
    eng.compact("cpu.load")
    after = eng.partition_file_counts("cpu.load")
    assert after and set(after.values()) == {1}, after
    # tight budget: a 1-day window now touches at most 2 files
    eng.fetch_driver_max_files = 2
    frm, to = NOW - DAY, NOW
    ti_f, v_f = eng.fetch("cpu.load", frm, to, now=NOW)
    ti_s, v_s = slow.fetch("cpu.load", frm, to, now=NOW)
    assert tuple(ti_f) == tuple(ti_s) and v_f == v_s
    from hoard_spark.fetch import plan_fetch

    archive, ti = plan_fetch(
        eng.catalog.info("cpu.load"), frm, to, NOW
    )
    assert eng._fetch_fast_values("cpu.load", archive.tier, ti) is not None


def test_empty_file_list_falls_back_to_spark(loaded):
    """When the pruned file list resolves EMPTY, the fast path must
    return None (Spark plan decides), not an all-None vector: a listing
    misresolution (URI-form path, transient FS error masked as
    'not found') must never become a silent empty answer for data that
    exists (ADVICE r7). Genuinely-empty windows pay one pruned scan."""
    from hoard_spark.fetch import TimeInfo

    eng, _ = loaded
    # a window inside tier-0 retention but before any written point
    ti = TimeInfo(NOW - 10 * DAY, NOW - 10 * DAY + 2 * 3600, 3600)
    assert eng._fetch_fast_values("cpu.load", 0, ti) is None
    # ...and the full fetch still answers (all-gaps) via Spark
    ti_out, v = eng.fetch(
        "cpu.load", NOW - 10 * DAY, NOW - 10 * DAY + 2 * 3600, now=NOW
    )
    assert v and all(x is None for x in v)


def test_fetch_many_empty_metric_list_raises(loaded):
    from hoard_spark.catalog import HoardError

    eng, _ = loaded
    with pytest.raises(HoardError, match="at least one metric"):
        eng.fetch_many([], NOW - 3600, NOW, now=NOW)
    with pytest.raises(HoardError, match="at least one metric"):
        eng.fetch_many_dataframe([], NOW - 3600, NOW, now=NOW)


def test_date_span_guard_falls_back(spark, tmp_path):
    """A window spanning far more date partitions than the file budget
    must fall back WITHOUT walking one listdir per date (each listing is
    an RPC at deployment scale) — and still answer correctly."""
    from hoard_spark.fetch import TimeInfo

    eng = _mk(spark, tmp_path, name="span")
    eng.create("m.sparse", [(3600, 24 * 400), (DAY, 4000)])
    eng.update_many(
        "m.sparse",
        [(NOW - 300 * DAY + 7200, 1.0), (NOW - 3600 + 5, 2.0)],
        now=NOW,
    )
    calls = {"n": 0}
    real_listdir = eng.fs.listdir
    real_ldf = eng.fs.list_date_files

    def counting(*a, **k):
        calls["n"] += 1
        return real_listdir(*a, **k)

    def counting_ldf(*a, **k):
        calls["n"] += 1
        return real_ldf(*a, **k)

    eng.fs.listdir = counting
    eng.fs.list_date_files = counting_ldf
    ti = TimeInfo(NOW - 350 * DAY, NOW, 3600)
    assert eng._fetch_fast_values("m.sparse", 0, ti) is None
    assert calls["n"] == 0, "guard must reject before any dir listing"
    eng.fs.listdir = real_listdir
    eng.fs.list_date_files = real_ldf
    ti_out, v = eng.fetch("m.sparse", NOW - 350 * DAY, NOW, now=NOW)
    assert 1.0 in v and 2.0 in v
