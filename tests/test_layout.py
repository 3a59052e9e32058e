"""The warehouse layout (hoard_spark/layout.py) and its control plane.

Every partitioned write into the warehouse goes through
``Layout.writer``, which clusters rows by output dir, so each ``date=``
dir a write touches holds ONE data file afterwards: the property the
driver routes' file budget assumes. ``import_tree`` is pinned the same
way in tests/test_whisper_source.py."""

import json
import os

import pytest

from hoard_spark.engine import HoardEngine
from hoard_spark.fsutil import is_data_file
from hoard_spark.layout import Layout

NOW = 1_400_000_000
POLICY = [(3600, 96), (86400, 30)]


def files_per_date_dir(root: str) -> dict[str, int]:
    """Data-file count of every ``date=`` dir under ``root``."""
    return {
        os.path.relpath(d, root): sum(map(is_data_file, names))
        for d, _, names in os.walk(root)
        if os.path.basename(d).startswith("date=")
    }


def _append(eng, metric, shift=0.0):
    """One Spark-path append of three days of hourly points."""
    eng.update_many(
        metric, [(NOW - 3600 * i, shift + i) for i in range(72)], now=NOW
    )


@pytest.mark.parametrize("metric_buckets", [None, 4])
def test_compact_leaves_one_file_per_dir(spark, tmp_path, metric_buckets):
    eng = HoardEngine(
        spark, str(tmp_path / "w"), metric_buckets, fetch_driver_max_files=0
    )
    eng.create("a", POLICY)
    _append(eng, "a")
    _append(eng, "a", shift=0.5)
    branch = os.path.join(eng.points_path, "tier=0", eng.layout.branch("a"))
    before = files_per_date_dir(branch)
    assert len(before) >= 3 and set(before.values()) == {2}, before
    want = eng.fetch("a", NOW - 6 * 3600, NOW, now=NOW)

    eng.compact("a")
    after = files_per_date_dir(branch)
    assert after.keys() == before.keys() and set(after.values()) == {1}, after
    assert eng.fetch("a", NOW - 6 * 3600, NOW, now=NOW) == want


def test_bucketed_drop_leaves_one_file_per_dir(spark, tmp_path):
    layout = Layout(4)
    gone = next(
        f"m{i}" for i in range(1, 100) if layout.mb_of(f"m{i}") == layout.mb_of("m0")
    )
    eng = HoardEngine(
        spark, str(tmp_path / "w"), metric_buckets=4, fetch_driver_max_files=0
    )
    for m in ("m0", gone):
        eng.create(m, POLICY)
    _append(eng, "m0")
    _append(eng, gone, shift=100.0)
    _append(eng, "m0", shift=0.5)
    want = eng.fetch("m0", NOW - 6 * 3600, NOW, now=NOW)

    eng.drop(gone)
    for root in (eng.points_path, eng.rollups_path):
        for tier in (0, 1):
            counts = files_per_date_dir(
                os.path.join(root, f"tier={tier}", layout.branch("m0"))
            )
            assert set(counts.values()) <= {1}, (root, tier, counts)
    assert files_per_date_dir(os.path.join(eng.points_path, "tier=0"))
    assert eng.fetch("m0", NOW - 6 * 3600, NOW, now=NOW) == want


def test_failed_layout_write_leaves_warehouse_reopenable(
    spark, tmp_path, monkeypatch
):
    """The layout file is written like the rest of the control plane:
    a write that fails half-way leaves no file behind, not an empty one
    that every later open fails to parse."""
    wh = str(tmp_path / "w")

    def failing_dump(*args, **kwargs):
        raise OSError("no space left on device")

    with monkeypatch.context() as m:
        m.setattr(json, "dump", failing_dump)
        with pytest.raises(OSError):
            HoardEngine(spark, wh, metric_buckets=4)
    eng = HoardEngine(spark, wh, metric_buckets=4)
    eng.create("m", POLICY)
    assert HoardEngine(spark, wh).metric_buckets == 4
