"""G2/G3/G4 — ingest + fetch end-to-end against the reference's goldens.

Golden values come from the reference's own test asserts
(test/hoard.test.coffee:36-51, 90-132) and from parsing its Python-Whisper-
generated binary fixture. FIXTURES.md pins the expected vectors.
"""

import os

import pytest

from hoard_spark.catalog import HoardError
from tests.whisper_fixture import LARGE_WHISPER, TSDATA_JSON, read_tsdata, read_whisper

LARGE = [(3600, 8760), (86400, 1095)]
SMALL = [(1, 60), (10, 600)]

pytestmark = pytest.mark.usefixtures("spark")


# ---------------------------------------------------------------------- G2
@pytest.mark.skipif(not os.path.exists(LARGE_WHISPER), reason="fixture missing")
def test_g2_fetch_prebuilt_data(engine):
    """fetch() over the fixture's tier-0 contents reproduces the reference
    golden (test/hoard.test.coffee:36-51)."""
    wf = read_whisper()
    tier0 = wf.archives[0].data
    now = max(iv for iv, _ in tier0)
    engine.create("large", LARGE, x_files_factor=0.5)
    engine.update_many("large", tier0, now=now, propagate=False)

    ti, values = engine.fetch("large", 1311161605, 1311179605, now=now)
    assert tuple(ti) == (1311163200, 1311181200, 3600)
    assert values == [2048, 4546, 794, 805, 4718]


# ---------------------------------------------------------------------- G4
@pytest.mark.skipif(not os.path.exists(TSDATA_JSON), reason="fixture missing")
def test_g4_batch_ingest_lww(engine):
    """57,600-point batch load; LWW per hourly bucket
    (test/hoard.test.coffee:110-132)."""
    points = read_tsdata()
    now = max(ts for ts, _ in points)
    engine.create("lots", LARGE, x_files_factor=0.5)
    engine.update_many("lots", points, now=now, propagate=False)

    ti, values = engine.fetch("lots", 1311277105, 1311295105, now=now)
    assert tuple(ti) == (1311278400, 1311296400, 3600)
    assert values == [1043, 3946, 1692, 899, 2912]


# ---------------------------------------------------------------------- G3
def test_g3a_never_written_metric_all_nulls(engine):
    engine.create("empty", SMALL)
    now = 1_700_000_000
    ti, values = engine.fetch("empty", now - 30, now - 10, now=now)
    assert tuple(ti) == (now - 29, now - 9, 1)
    assert values == [None] * 20


def test_g3b_sparse_nulls_and_window_bounds(engine):
    engine.create("sparse", [(10, 100), (100, 100)])
    now = 1_700_000_000
    base = now - now % 10
    # points in buckets base-40 and base-20; bucket base-30 left empty
    engine.update_many(
        "sparse",
        [(base - 40, 1.0), (base - 40 + 5, 2.0), (base - 20, 7.0)],
        now=now,
    )
    # from inside bucket (base-50): window starts strictly after from's bucket
    ti, values = engine.fetch("sparse", base - 45, base - 15, now=now)
    assert tuple(ti) == (base - 40, base - 10, 10)
    # LWW within bucket base-40: ts 5s later wins -> 2.0
    assert values == [2.0, None, 7.0]


def test_g3c_clamping_and_errors(engine):
    engine.create("clamp", [(10, 10), (100, 100)])  # maxRetention 10_000
    now = 1_700_000_000
    # from older than maxRetention is clamped (src/hoard.coffee:429-430)
    ti, _ = engine.fetch("clamp", now - 50_000, now, now=now)
    assert ti.from_interval == (now - 10_000) - (now - 10_000) % 100 + 100
    # to in the future is clamped to now (src/hoard.coffee:432)
    ti2, _ = engine.fetch("clamp", now - 50, now + 500, now=now)
    assert ti2.to_interval == now - now % 10 + 10
    # from >= to errors (src/hoard.coffee:431)
    with pytest.raises(HoardError):
        engine.fetch("clamp", now - 10, now - 10, now=now)
    # an all-future range collapses to an empty vector after the to-clamp
    _, values = engine.fetch("clamp", now + 100, now + 200, now=now)
    assert values == []
    # ... also when the window crosses UTC midnight, so from_interval's
    # date is after to_interval's, on the driver route and on Spark
    from hoard_spark.engine import HoardEngine

    late = 1_700_006_400 - 3600  # 23:00 UTC
    slow = HoardEngine(
        engine.spark, engine.warehouse_dir, fetch_driver_max_files=0
    )
    for eng in (engine, slow):
        ti3, values = eng.fetch("clamp", late + 7200, late + 7300, now=late)
        assert ti3.from_interval > ti3.to_interval
        assert values == []
        _, df = eng.fetch_dataframe("clamp", late + 7200, late + 7300, now=late)
        assert df.collect() == []


def test_update_single_point_and_future_rejection(engine):
    """create -> update -> fetch (test/hoard.test.coffee:90-108) + the strict
    age window of update() (src/hoard.coffee:186-189)."""
    engine.create("u", [(60, 60), (3600, 100)])
    now = 1_700_003_600
    engine.update("u", 42.5, now - 90, now=now)
    ti, values = engine.fetch("u", now - 150, now - 60, now=now)
    bucket = (now - 90) - (now - 90) % 60
    idx = (bucket - ti.from_interval) // 60
    assert values[idx] == 42.5
    with pytest.raises(HoardError):
        engine.update("u", 1.0, now + 120, now=now)  # future
    with pytest.raises(HoardError):
        engine.update("u", 1.0, now - 500_000, now=now)  # past maxRetention


def test_cross_batch_lww_later_call_wins(engine):
    """Across update calls the later call overwrites the slot regardless of
    timestamp (slot overwrite, src/hoard.coffee:223)."""
    engine.create("x", [(60, 100), (3600, 100)])
    now = 1_700_003_600
    engine.update_many("x", [(now - 120, 10.0)], now=now)
    engine.update_many("x", [(now - 100, 20.0)], now=now)  # same bucket, later call
    ti, values = engine.fetch("x", now - 180, now - 60, now=now)
    bucket = (now - 120) - (now - 120) % 60
    idx = (bucket - ti.from_interval) // 60
    assert values[idx] == 20.0


def test_within_batch_chronological_wins(engine):
    """Within one updateMany, points apply in chronological order — the
    newest timestamp in a bucket wins (src/hoard.coffee:242, 284)."""
    engine.create("y", [(60, 100), (3600, 100)])
    now = 1_700_003_600
    # deliberately out of order in the list
    engine.update_many("y", [(now - 100, 99.0), (now - 110, 1.0)], now=now)
    ti, values = engine.fetch("y", now - 180, now - 60, now=now)
    bucket = (now - 100) - (now - 100) % 60
    idx = (bucket - ti.from_interval) // 60
    assert values[idx] == 99.0  # ts now-100 is newer than now-110


def test_too_old_points_dropped_and_tier_routing(engine):
    """updateMany drops points older than the oldest archive
    (src/hoard.coffee:274-275) and routes mid-age points directly into
    coarser archives (:254-277)."""
    engine.create("r", [(10, 100), (100, 100)])  # retentions 1_000 / 10_000
    now = 1_700_000_000
    engine.update_many(
        "r",
        [
            (now - 20_000, 1.0),  # older than maxRetention -> dropped
            (now - 5_000, 2.0),  # fits only tier 1
            (now - 500, 3.0),  # tier 0
        ],
        now=now,
    )
    # tier-1 routed point readable via a fetch that routes to tier 1
    ti, values = engine.fetch("r", now - 5_050, now - 4_950, now=now)
    assert 2.0 in values
    # dropped point nowhere to be found: full-range fetch has no 1.0
    ti2, values2 = engine.fetch("r", now - 9_999, now, now=now)
    assert 1.0 not in [v for v in values2 if v is not None]
    assert 2.0 in values2


def test_ingest_df_writes_only_the_named_metric(engine):
    """ingest_df is the one-metric case of the micro-batch write: a row of
    another metric in the frame (here one with a different policy) is
    dropped, not appended under its own name with the named metric's
    routing and outside its catalog touch and cascade."""
    from hoard_spark.ingest import POINTS_SCHEMA

    now = 1_400_000_000
    engine.create("a", [(60, 60), (600, 60)], now=now - 3600)
    engine.create("b", [(3600, 24)], now=now - 3600)
    df = engine.spark.createDataFrame(
        [("a", now - 30, 1.0, 0), ("b", now - 30, 2.0, 1)], POINTS_SCHEMA
    )
    returned = engine.ingest_df("a", df, now=now)
    assert {r["metric"] for r in engine._read_points().collect()} == {"a"}
    assert returned is None
    assert engine.info("b").last_update == 0
    _, values = engine.fetch("a", now - 120, now, now=now)
    assert 1.0 in values


def test_fetch_single_tier_routing(engine):
    """fetch answers from ONE tier — the first whose retention covers
    now-from (src/hoard.coffee:437-438); resolutions never mix."""
    engine.create("t", [(10, 10), (100, 1000)])  # tier0 covers only 100 s
    now = 1_700_000_000
    base = now - now % 100
    engine.update_many("t", [(base - 250, 5.0), (now - 50, 9.0)], now=now)
    # from older than tier-0 retention -> whole answer comes from tier 1
    # (the 5.0 point lives in bucket base-300, so from must be in an earlier
    # bucket for it to fall inside the [align(from)+spp, ...) window)
    ti, values = engine.fetch("t", base - 350, now, now=now)
    assert ti.step == 100
    assert 5.0 in values


def test_sql_surface_over_warehouse(engine):
    """engine.sql(): the Spark SQL face of the warehouse (new surface —
    the reference is API-only, SURVEY.md §2B)."""
    now = 1_400_000_000
    engine.create("cpu", [(3600, 48), (86400, 30)])
    engine.update_many(
        "cpu", [(now - 3600 * i, float(i)) for i in range(30)], now=now
    )
    # duplicate write into one bucket: raw keeps both, series keeps winner
    # (through the Spark path, which appends; a driver flush folds)
    engine.fetch_driver_max_files = 0
    engine.update_many("cpu", [(now - 3600 + 5, 999.0)], now=now)

    raw = engine.sql(
        "SELECT COUNT(*) AS n FROM hoard_points WHERE metric = 'cpu' AND tier = 0"
    ).first()["n"]
    assert raw == 31

    series = {
        r["bucket_ts"]: r["value"]
        for r in engine.sql(
            "SELECT bucket_ts, value FROM hoard_series "
            "WHERE metric = 'cpu' AND tier = 0 ORDER BY bucket_ts"
        ).collect()
    }
    assert len(series) == 30
    bucket = (now - 3600 + 5) - (now - 3600 + 5) % 3600
    assert series[bucket] == 999.0

    cat = engine.sql("SELECT * FROM hoard_catalog").collect()
    assert [r["metric"] for r in cat] == ["cpu"]
    assert cat[0]["archives"][0]["seconds_per_point"] == 3600

    rollup = engine.sql(
        "SELECT COUNT(*) AS n FROM hoard_rollups WHERE metric = 'cpu' AND tier = 1"
    ).first()["n"]
    assert rollup >= 1


def test_fetch_many_matches_per_metric_fetch(engine):
    """One pruned scan for N series must equal N single fetches."""
    now = 1_400_000_000
    metrics = ["cpu.a", "cpu.b", "cpu.c"]
    for j, m in enumerate(metrics):
        engine.create(m, [(3600, 48), (86400, 30)])
        engine.update_many(
            m,
            [(now - 3600 * i, float(100 * j + i)) for i in range(0, 30, 2)],
            now=now,
        )
    ti, df = engine.fetch_many_dataframe(metrics, now - 86400, now, now=now)
    got = {
        m: [None] * ((ti.to_interval - ti.from_interval) // ti.step)
        for m in metrics
    }
    for r in df.collect():
        got[r["metric"]][(r["bucket_ts"] - ti.from_interval) // ti.step] = (
            r["value"]
        )
    for m in metrics:
        single_ti, values = engine.fetch(m, now - 86400, now, now=now)
        assert single_ti == ti
        assert got[m] == values, m


def test_fetch_many_rejects_mixed_policies(engine):
    import pytest as _pytest

    from hoard_spark.catalog import HoardError

    engine.create("m1", [(3600, 48), (86400, 30)])
    engine.create("m2", [(60, 120), (3600, 48), (86400, 30)])
    with _pytest.raises(HoardError, match="sharing one retention policy"):
        engine.fetch_many_dataframe(["m1", "m2"], 0, 1, now=2)


def test_unmaterialized_tier_is_one_cascade_for_all_metrics(spark, engine):
    """A window routed to a tier no metric has materialized computes the
    cascade on the fly ONCE for all metrics: two points scans (the tier-0
    recursion and tier 1's direct points), not two per metric; values
    equal per-metric fetch and the hand-computed rollup on both routes."""
    from hoard_spark.engine import HoardEngine

    now = 3600 * 389_000
    metrics = ["s.a", "s.b", "s.c"]
    for k, m in enumerate(metrics):
        engine.create(m, [(60, 180), (3600, 48)])
        pts = [(now - 60 * j, float(100 * k + j)) for j in range(1, 121)]
        # older than tier 0's 3 h retention: routed straight to tier 1
        pts.append((now - 4 * 3600 + 5, 7.0 + k))
        engine.update_many(m, pts, now=now, propagate=False)
    frm = now - 5 * 3600
    assert not any(engine._is_materialized(1, m) for m in metrics)

    ti, df = engine.fetch_many_dataframe(metrics, frm, now, now=now)
    assert ti.step == 3600
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    # points scans read ``seq``; a rollups scan would read ``known``
    assert len(scans) == 2 and all("seq:bigint" in ln for ln in scans), plan

    want = {
        m: [7.0 + k, None, 90.5 + 100 * k, 30.5 + 100 * k, None]
        for k, m in enumerate(metrics)
    }
    slow = HoardEngine(spark, engine.warehouse_dir, fetch_driver_max_files=0)
    for eng in (engine, slow):
        ti_m, series = eng.fetch_many(metrics, frm, now, now=now)
        assert ti_m == ti and series == want
        for m in metrics:
            assert eng.fetch(m, frm, now, now=now) == (ti, want[m])


# ------------------------------------------------- warehouse robustness
def test_corrupted_warehouse_raises_not_empty(engine):
    """A corrupted warehouse must raise, never silently read as 'no data'
    (round-2 VERDICT: the broad except turned corruption into gaps)."""
    import pathlib

    now = 1_400_000_000
    engine.create("m", [(60, 60), (3600, 48)])
    engine.update_many("m", [(now - 60, 1.0)], now=now)
    part = next(pathlib.Path(engine.points_path).rglob("*.parquet")).parent
    (part / "part-corrupt.parquet").write_bytes(b"garbage-not-parquet")
    with pytest.raises(Exception, match="(?i)parquet|FAILED_READ_FILE"):
        engine._read_points().count()


def test_conflicting_partition_layout_raises(engine):
    """A foreign partition directory under the points root is corruption,
    not emptiness."""
    import pathlib

    now = 1_400_000_000
    engine.create("m", [(60, 60), (3600, 48)])
    engine.update_many("m", [(now - 60, 1.0)], now=now)
    bad = pathlib.Path(engine.points_path) / "oops=1"
    bad.mkdir(parents=True)
    (bad / "p.parquet").write_bytes(b"garbage")
    with pytest.raises(Exception):
        engine._read_points().count()


def test_propagate_many_rejects_mixed_policies(engine):
    engine.create("a", [(60, 60), (3600, 48)])
    engine.create("b", [(60, 120), (3600, 48)])
    with pytest.raises(HoardError, match="sharing one retention policy"):
        engine.propagate_many(["a", "b"])


def test_fs_rename_replaces_and_keeps_recovery_copy_semantics(engine, tmp_path):
    """rename(src, dst) must replace a non-empty dst and never leave a
    window with no live copy (trash-path swap, not delete-then-rename)."""
    import pathlib

    src = tmp_path / "src"
    dst = tmp_path / "dst"
    (src / "sub").mkdir(parents=True)
    (src / "sub" / "f.txt").write_text("new")
    (dst / "sub").mkdir(parents=True)
    (dst / "sub" / "f.txt").write_text("old")
    engine.fs.rename(str(src), str(dst))
    assert (dst / "sub" / "f.txt").read_text() == "new"
    assert not src.exists()
    assert not pathlib.Path(str(dst) + ".__old").exists()
