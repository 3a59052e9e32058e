"""SQL-callable fetch (``SELECT * FROM hoard_fetch(...)``) — pinned
value-equal to ``HoardEngine.fetch`` (VERDICT r9 item 4; reference
fetch: src/hoard.coffee:426-513).

The UDTF's table form carries the same information as the engine's
``(timeInfo, values)``: one row per bucket, NULL for gaps, so the pin
reconstructs the vector from the rows and compares exactly — on the
reference's own goldens (G2/G4 fixtures), on a materialized rollup
tier, and on hypothesis-randomized corpora.
"""

import os

import pytest
from pyspark.sql.utils import PythonException

from hoard_spark.catalog import HoardError
from hoard_spark.functions.sql_fetch import python_fetch, register_sql_fetch
from tests.whisper_fixture import (
    LARGE_WHISPER,
    TSDATA_JSON,
    read_tsdata,
    read_whisper,
)

LARGE = [(3600, 8760), (86400, 1095)]


def _sql_vector(spark, metric, from_ts, to_ts, now):
    rows = spark.sql(
        f"SELECT * FROM hoard_fetch('{metric}', {from_ts}, {to_ts}, {now}) "
        "ORDER BY bucket_ts"
    ).collect()
    return [r["bucket_ts"] for r in rows], [r["value"] for r in rows]


def _expect_equal(spark, engine, metric, from_ts, to_ts, now):
    ti, values = engine.fetch(metric, from_ts, to_ts, now=now)
    bts, vals = _sql_vector(spark, metric, from_ts, to_ts, now)
    assert bts == list(
        range(ti.from_interval, ti.to_interval, ti.step)
    ), "hoard_fetch must emit the full gap-fill spine"
    assert vals == values
    return values


@pytest.mark.skipif(not os.path.exists(TSDATA_JSON), reason="fixture missing")
def test_sql_fetch_matches_golden_g4(spark, engine):
    """57,600-point batch load; the SQL surface reproduces the G4 golden
    and the engine vector bucket for bucket."""
    points = read_tsdata()
    now = max(ts for ts, _ in points)
    engine.create("lots", LARGE, x_files_factor=0.5)
    engine.update_many("lots", points, now=now, propagate=False)
    register_sql_fetch(spark, engine.warehouse_dir)

    values = _expect_equal(spark, engine, "lots", 1311277105, 1311295105, now)
    assert values == [1043, 3946, 1692, 899, 2912]


@pytest.mark.skipif(
    not os.path.exists(LARGE_WHISPER), reason="fixture missing"
)
def test_sql_fetch_matches_golden_g2(spark, engine):
    wf = read_whisper()
    tier0 = wf.archives[0].data
    now = max(iv for iv, _ in tier0)
    engine.create("large", LARGE, x_files_factor=0.5)
    engine.update_many("large", tier0, now=now, propagate=False)
    register_sql_fetch(spark, engine.warehouse_dir)

    values = _expect_equal(spark, engine, "large", 1311161605, 1311179605, now)
    assert values == [2048, 4546, 794, 805, 4718]


def test_sql_fetch_materialized_rollup_tier(spark, engine):
    """A window older than tier-0's retention routes to tier 1; after
    propagate() the SQL surface reads the materialized rollup and
    matches the engine."""
    now = 1_700_000_000
    engine.create("roll", [(10, 60), (100, 1000)], x_files_factor=0.0)
    base = now - now % 100
    pts = [(base - 5000 + i * 10, float(i % 7)) for i in range(300)]
    engine.update_many("roll", pts, now=now)
    register_sql_fetch(spark, engine.warehouse_dir)

    _expect_equal(spark, engine, "roll", base - 5000, base - 2000, now)


def test_sql_fetch_unmaterialized_tier_raises(spark, engine):
    """Routing to an unpropagated coarse tier must fail loudly (the
    engine API would fall back to the Spark cascade; a SQL table
    function must not silently trigger it)."""
    now = 1_700_000_000
    engine.create("raw", [(10, 60), (100, 1000)])
    engine.update_many(
        "raw", [(now - 3000, 1.0)], now=now, propagate=False
    )
    with pytest.raises(HoardError, match="not materialized"):
        python_fetch(engine.warehouse_dir, "raw", now - 5000, now - 2000, now)
    register_sql_fetch(spark, engine.warehouse_dir)
    with pytest.raises(PythonException, match="not materialized"):
        spark.sql(
            f"SELECT * FROM hoard_fetch('raw', {now - 5000}, "
            f"{now - 2000}, {now})"
        ).collect()


def test_sql_fetch_empty_and_sparse(spark, engine):
    """G3-shape: never-written metric -> all-NULL spine; sparse buckets
    LWW-merged, gaps NULL — equal to the engine on both."""
    now = 1_700_000_000
    engine.create("empty", [(1, 60), (10, 600)])
    engine.create("sparse", [(10, 100), (100, 100)])
    base = now - now % 10
    engine.update_many(
        "sparse",
        [(base - 40, 1.0), (base - 40 + 5, 2.0), (base - 20, 7.0)],
        now=now,
    )
    register_sql_fetch(spark, engine.warehouse_dir)
    assert _expect_equal(spark, engine, "empty", now - 30, now - 10, now) == [
        None
    ] * 20
    assert _expect_equal(
        spark, engine, "sparse", base - 45, base - 15, now
    ) == [2.0, None, 7.0]


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_NOW = 1_700_000_000


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=_NOW - 580, max_value=_NOW - 1),
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
            ),
        ),
        min_size=1,
        max_size=40,
    ),
    lo_off=st.integers(min_value=60, max_value=590),
    width=st.integers(min_value=15, max_value=200),
)
def test_property_python_fetch_equals_engine(
    spark, tmp_path_factory, pts, lo_off, width
):
    """Randomized corpora: the JVM-free fetch is value-identical to the
    engine's tier-0 fetch on arbitrary LWW collisions, window clamps,
    and gaps (same contract the engine's own fast path is pinned to)."""
    from hoard_spark.engine import HoardEngine

    wh = str(tmp_path_factory.mktemp("sqlfetch") / "wh")
    eng = HoardEngine(spark, wh)
    eng.create("m", [(10, 60), (100, 100)])
    eng.update_many("m", pts, now=_NOW, propagate=False)
    frm = _NOW - lo_off
    ti_e, v_e = eng.fetch("m", frm, min(frm + width, _NOW - 1), now=_NOW)
    ti_p, v_p = python_fetch(wh, "m", frm, min(frm + width, _NOW - 1), _NOW)
    assert tuple(ti_e) == tuple(ti_p) and v_e == v_p


def test_sql_fetch_misresolved_store_raises_not_nulls(spark, engine):
    """Backstop (ADVICE r10): the catalog says the metric has writes but
    the tier store root is absent — a listing misresolution must raise,
    not return a silent all-NULL spine. A present store root with no
    files for the window's dates stays a genuinely-empty NULL spine."""
    import shutil

    now = 1_700_000_000
    engine.create("written", [(10, 100), (100, 100)])
    base = now - now % 10
    engine.update_many("written", [(base - 40, 1.0)], now=now)

    # genuinely empty window (different part of the retention, store
    # root present): NULLs, no raise
    _, vals = python_fetch(
        engine.warehouse_dir, "written", base - 900, base - 800, now
    )
    assert set(vals) == {None}

    shutil.rmtree(os.path.join(engine.warehouse_dir, "points"))
    with pytest.raises(HoardError, match="not resolving"):
        python_fetch(
            engine.warehouse_dir, "written", base - 45, base - 15, now
        )


@pytest.mark.skipif(not os.path.exists(TSDATA_JSON), reason="fixture missing")
def test_sql_fetch_through_file_uri_pyarrow_fs(spark, engine):
    """Object-store-readiness pin (VERDICT r10 stretch 9): the G4 golden
    stays green when the UDTF's warehouse root is a ``file://`` URI —
    the data-plane listings/reads resolve through pyarrow.fs, not os
    walks. Also pins the misresolution backstop through the same path."""
    import shutil

    points = read_tsdata()
    now = max(ts for ts, _ in points)
    engine.create("lots", LARGE, x_files_factor=0.5)
    engine.update_many("lots", points, now=now, propagate=False)

    uri = "file://" + engine.warehouse_dir
    ti, values = python_fetch(uri, "lots", 1311277105, 1311295105, now)
    assert values == [1043, 3946, 1692, 899, 2912]
    assert (ti.from_interval, ti.to_interval, ti.step) == (
        1311278400, 1311296400, 3600,
    )
    register_sql_fetch(spark, uri)
    assert _expect_equal(
        spark, engine, "lots", 1311277105, 1311295105, now
    ) == [1043, 3946, 1692, 899, 2912]

    shutil.rmtree(os.path.join(engine.warehouse_dir, "points"))
    with pytest.raises(HoardError, match="not resolving"):
        python_fetch(uri, "lots", 1311277105, 1311295105, now)


def test_list_date_files_skips_hidden_files(tmp_path):
    """The UDTF's pyarrow listing skips ``_x``/``.x`` names as Spark's
    file index does (a staged or leftover file is not data)."""
    from hoard_spark.functions.sql_fetch import _list_date_files, _resolve_fs

    d = tmp_path / "tier=0" / "metric=m" / "date=2026-01-01"
    d.mkdir(parents=True)
    for n in ("a.parquet", "_b.parquet", ".c.parquet"):
        (d / n).write_bytes(b"x")
    fs, root = _resolve_fs(str(tmp_path))
    files = _list_date_files(fs, f"{root}/tier=0/metric=m", ["2026-01-01"])
    assert [f.rsplit("/", 1)[-1] for f in files] == ["a.parquet"]
