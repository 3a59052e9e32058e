"""Unit tests for the benchmark's own arithmetic.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import pytest

from perfbench.model import TsdbModel, same_values
from perfbench.stats import (
    covered,
    family_sums,
    geomean,
    median,
    percentile,
    self_times,
)

# ------------------------------------------------------------ percentile


def test_percentile_needs_ten_samples_beyond_it():
    values = list(range(1, 101))  # p90 is rank 90: ten samples above it
    assert percentile(values, 90) == 90
    assert percentile(values, 95) is None  # only five above rank 95
    assert percentile(list(range(1, 100)), 90) is None  # nine above


def test_percentile_ignores_input_order():
    values = [5.0, 1.0, 4.0, 2.0, 3.0] * 10
    assert percentile(values, 50) == 3.0
    assert percentile(sorted(values), 50) == 3.0


def test_percentile_rejects_bounds_and_handles_empty():
    with pytest.raises(ValueError):
        percentile([1.0], 100)
    assert percentile([], 50) is None


def test_median_of_even_count_is_the_midpoint():
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


# ------------------------------------------------- geomean, family sums


def test_geomean():
    assert geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert geomean([7.0]) == pytest.approx(7.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        geomean([])


def test_family_sums_add_each_family_and_refuse_gaps():
    per_query = {"q1": 1.0, "q2": 2.0, "q3": 4.0}
    fams = {"a": ["q1", "q2"], "b": ["q3"]}
    assert family_sums(per_query, fams) == {"a": 3.0, "b": 4.0}
    with pytest.raises(KeyError):
        family_sums({"q1": 1.0}, fams)


# ------------------------------------------------------- span self time


def span(name, start, end, parent):
    return {"name": name, "start": start, "end": end, "parent": parent, "op": 0}


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_direct_children_only():
    spans = [
        span("op", 0.0, 10.0, None),
        span("a", 1.0, 4.0, 0),
        span("a.inner", 2.0, 3.0, 1),
        span("b", 6.0, 7.0, 0),
    ]
    assert self_times(spans) == pytest.approx([6.0, 2.0, 1.0, 1.0])


def test_self_time_counts_overlapping_children_once():
    # a helper thread's child overlaps the caller's own child
    spans = [span("op", 0.0, 10.0, None), span("x", 2.0, 6.0, 0), span("y", 4.0, 8.0, 0)]
    assert self_times(spans)[0] == pytest.approx(4.0)


# ------------------------------------------------------ tsdb model

POLICY = [(60, 2880), (3600, 720), (86400, 365)]
NOW = 1_600_000_000 - 1_600_000_000 % 86400 + 86400 - 1  # last second of a day


def test_lww_later_call_wins_and_within_a_call_the_later_ts_wins():
    m = TsdbModel(POLICY, 0.5)
    b = NOW - NOW % 60 - 600
    m.update_many("x", [(b + 50, 2.0), (b + 10, 1.0)], NOW)  # same bucket
    (lo, hi, step), values = m.fetch("x", b - 60, b + 60, NOW)
    assert step == 60 and lo == b and values[0] == 2.0
    m.update_many("x", [(b + 5, 9.0)], NOW)  # a later call wins
    assert m.fetch("x", b - 60, b + 60, NOW)[1][0] == 9.0


def test_equal_timestamps_in_one_call_keep_input_order():
    m = TsdbModel(POLICY, 0.5)
    b = NOW - NOW % 60 - 600
    m.update_many("x", [(b + 7, 1.0), (b + 7, 3.0)], NOW)
    assert m.fetch("x", b - 60, b + 60, NOW)[1][0] == 3.0


def test_fetch_window_alignment_matches_hoard():
    m = TsdbModel(POLICY, 0.5)
    (lo, hi, step), values = m.fetch("x", NOW - 3600 + 1, NOW, NOW)
    assert step == 60
    assert lo == (NOW - 3600 + 1) - (NOW - 3600 + 1) % 60 + 60
    assert hi == NOW - NOW % 60 + 60
    assert values == [None] * ((hi - lo) // 60)


def test_rollup_is_xff_gated_mean_of_the_finer_tier():
    m = TsdbModel(POLICY, 0.5)
    hour = NOW - NOW % 3600 - 3 * 3600
    full = [(hour + 60 * i, float(i)) for i in range(30)]  # 30 of 60: passes
    sparse = [(hour + 3600 + 60 * i, 5.0) for i in range(29)]  # 29 of 60: fails
    m.write("x", full + sparse, NOW)
    tier1 = m.tier("x", 1)
    assert tier1 == {hour: sum(range(30)) / 30}
    (lo, hi, step), values = m.fetch("x", NOW - 30 * 86400, NOW, NOW)
    assert step == 3600
    assert values[(hour - lo) // 3600] == sum(range(30)) / 30
    assert values[(hour + 3600 - lo) // 3600] is None


def test_second_rollup_uses_the_first_rollups_values():
    m = TsdbModel(POLICY, 0.5)
    day = NOW - NOW % 86400
    pts = []
    for h in range(12):  # 12 of 24 hours known: passes the day's gate
        pts += [(day + 3600 * h + 60 * i, float(h)) for i in range(60)]
    m.write("x", pts, NOW)
    assert m.tier("x", 2) == {day: sum(range(12)) / 12}
    m2 = TsdbModel(POLICY, 0.5)
    m2.write("x", pts[: 11 * 60], NOW)  # 11 of 24: fails
    assert m2.tier("x", 2) == {}


def test_model_refuses_points_outside_tier0():
    m = TsdbModel(POLICY, 0.5)
    with pytest.raises(ValueError):
        m.write("x", [(NOW + 1, 1.0)], NOW)
    with pytest.raises(ValueError):
        m.write("x", [(NOW - 2880 * 60 - 1, 1.0)], NOW)


def test_same_values_exact_on_tier0_and_tolerant_on_rollups():
    assert same_values([1.0, None], [1.0, None], exact=True)
    assert not same_values([1.0, None], [None, None], exact=True)
    assert not same_values([1.0], [1.0 + 1e-15], exact=True)
    assert same_values([1.0], [1.0 + 1e-15], exact=False)
    assert not same_values([1.0], [1.0 + 1e-6], exact=False)
    assert not same_values([1.0], [1.0, 2.0], exact=False)
