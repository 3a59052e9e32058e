"""Whisper binary source: distributed parse + full import parity.

Golden: /root/reference/test/large.whisper (generated by Python Whisper,
the reference's own cross-validation fixture). The import must reproduce
every written ring slot bit-for-bit and serve the reference's golden fetch
from the imported warehouse.
"""

import pytest
from pyspark.sql import functions as F

from hoard_spark.sources.whisper import (
    import_tree,
    metric_name,
    read_points,
    read_policies,
)

from test_layout import files_per_date_dir
from whisper_fixture import LARGE_WHISPER, read_whisper


def test_read_points_matches_struct_parse(spark):
    golden = read_whisper(LARGE_WHISPER)
    expect = {
        (tier, interval, value)
        for tier, a in enumerate(golden.archives)
        for interval, value in a.data
    }
    got = {
        (r["tier"], r["bucket_ts"], r["value"])
        for r in read_points(spark, LARGE_WHISPER).collect()
    }
    assert got == expect
    assert len(got) > 300


def test_read_policies_matches_header(spark):
    golden = read_whisper(LARGE_WHISPER)
    rows = read_policies(spark, LARGE_WHISPER).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["metric"] == metric_name(LARGE_WHISPER) == "large"
    assert abs(r["x_files_factor"] - golden.x_files_factor) < 1e-9
    assert [
        (a["seconds_per_point"], a["points"]) for a in r["archives"]
    ] == [(a.seconds_per_point, a.points) for a in golden.archives]


def test_import_tree_roundtrip_and_lww(spark, engine):
    golden = read_whisper(LARGE_WHISPER)
    n = import_tree(engine, LARGE_WHISPER, now=1_312_502_906)
    assert n == sum(len(a.data) for a in golden.archives)

    info = engine.info("large")
    assert [(a.seconds_per_point, a.points) for a in info.archives] == [
        (a.seconds_per_point, a.points) for a in golden.archives
    ]

    # every imported tier serves its ring values verbatim: tier 0 from the
    # points table, coarser tiers from the materialized rollups (the ring's
    # stored downsamples are authoritative — their tier-0 inputs may have
    # wrapped out of the ring long ago)
    for tier, a in enumerate(golden.archives):
        view = {
            (r["bucket_ts"], r["value"])
            for r in engine.tier_view("large", tier).collect()
        }
        assert view == set(a.data)

    # a live write to an imported bucket wins LWW (imported seq = -1)
    tier0 = golden.archives[0]
    bucket, old_value = tier0.data[-1]
    now = bucket + 1800
    engine.update_many("large", [(bucket + 5, old_value + 123.0)], now=now)
    got = dict(
        engine._direct_lww_many(["large"], 0)
        .select("bucket_ts", "value")
        .collect()
    )
    assert got[bucket] == old_value + 123.0


def test_export_roundtrips_through_reference_format(spark, engine, tmp_path):
    """engine -> .wsp -> parse: every tier's LWW view survives the ring
    encoding bit-for-bit, and the file re-imports into a fresh engine with
    identical fetch results."""
    from hoard_spark.engine import HoardEngine
    from hoard_spark.sources.whisper import export_metric

    now = 1_400_000_000
    engine.create("cpu", [(3600, 48), (86400, 30)], x_files_factor=0.25)
    engine.update_many(
        "cpu", [(now - 3600 * i, float(100 + i)) for i in range(60)], now=now
    )

    out = str(tmp_path / "cpu.wsp")
    export_metric(engine, "cpu", out, now=now)

    parsed = read_whisper(out)
    assert abs(parsed.x_files_factor - 0.25) < 1e-6
    assert [(a.seconds_per_point, a.points) for a in parsed.archives] == [
        (3600, 48), (86400, 30),
    ]
    for tier, a in enumerate(parsed.archives):
        view = {
            (r["bucket_ts"], r["value"])
            for r in engine.tier_view("cpu", tier).collect()
            if now - a.retention < r["bucket_ts"] <= now
        }
        assert set(a.data) == view, f"tier {tier}"

    other = HoardEngine(spark, str(tmp_path / "wh2"))
    from hoard_spark.sources.whisper import import_tree

    import_tree(other, out, now=now)
    assert other.fetch("cpu", now - 86400, now, now=now) == engine.fetch(
        "cpu", now - 86400, now, now=now
    )


@pytest.mark.parametrize("metric_buckets", [None, 4])
def test_export_tree_roundtrip(spark, tmp_path, metric_buckets):
    """Distributed bulk export: engine -> .wsp tree (executor-side pack)
    -> re-import into a fresh engine reproduces every tier's values, and
    the import leaves one data file per partition dir, as every write
    through ``Layout.writer`` does."""
    from hoard_spark.engine import HoardEngine
    from hoard_spark.sources.whisper import export_tree

    now = 1_400_000_000
    src = HoardEngine(spark, str(tmp_path / "src_wh"), metric_buckets)
    for m in ("exp.a", "exp.b", "exp.c"):
        src.create(m, [(60, 120), (3600, 48)], now=now)
        src.update_many(
            m,
            [(now - 60 * i, float(hash(m) % 97 + i)) for i in range(90)],
            now=now,
        )
    out = tmp_path / "wsp_out"
    n = export_tree(src, str(out), now=now)
    assert n == 3
    assert sorted(p.name for p in out.glob("*.wsp")) == [
        "exp.a.wsp", "exp.b.wsp", "exp.c.wsp",
    ]

    dst = HoardEngine(spark, str(tmp_path / "dst_wh"), metric_buckets)
    import_tree(dst, str(out / "*.wsp"), now=now)
    for root in (dst.points_path, dst.rollups_path):
        counts = files_per_date_dir(root)
        assert counts and set(counts.values()) == {1}, (root, counts)
    for m in ("exp.a", "exp.b", "exp.c"):
        ti_s, vals_s = src.fetch(m, now - 3600, now, now=now)
        ti_d, vals_d = dst.fetch(m, now - 3600, now, now=now)
        assert ti_s == ti_d
        assert vals_s == vals_d
        assert sum(v is not None for v in vals_s) > 30
