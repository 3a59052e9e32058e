"""Property-based pins of the reference's semantic contract (SURVEY §2A).

Hypothesis generates random archive ladders and point streams; a small
pure-Python model transcribed from the distilled contract (SURVEY.md §2A
"Semantic contract distilled"; file:line cites inline) is the ground
truth, and the engine's declarative DataFrame plans must agree exactly.

Spark-backed properties use few examples (each example is a Spark job);
the Whisper codec round-trip is pure Python and runs wide. Value pools
are integers (exactly representable doubles) so equality is exact — the
point is the *semantics* (routing, LWW tie-breaks, xff gates, window
boundaries), not float tolerance.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hoard_spark.catalog import ArchiveInfo, MetricInfo
from hoard_spark.fetch import collect_values, fetch_df, plan_fetch
from hoard_spark.functions import align_ts
from hoard_spark.ingest import POINTS_SCHEMA, lww, prepare_batch
from hoard_spark.rollup import rollup_tier
from hoard_spark.sources.whisper import _pack_metric, parse_header, parse_points

NOW = 1_000_000

# A valid two-tier ladder: coarser spp a multiple of finer, coarser
# retention strictly longer (catalog.validate_archives rules).
_ladders = st.tuples(
    st.sampled_from([5, 10, 60]),  # tier-0 spp
    st.sampled_from([2, 4, 6]),  # spp ratio tier1/tier0
    st.integers(min_value=4, max_value=40),  # tier-0 points
    st.integers(min_value=2, max_value=30),  # tier-1 extra points
).map(
    lambda t: (
        (t[0], t[2]),
        (t[0] * t[1], max(t[2] // t[1] + t[3], t[2] // t[1] + 1)),
    )
)


def _info(ladder, xff=0.5) -> MetricInfo:
    archives = tuple(
        ArchiveInfo(tier=i, seconds_per_point=spp, points=pts)
        for i, (spp, pts) in enumerate(ladder)
    )
    return MetricInfo(
        metric="m", archives=archives, x_files_factor=xff, created_at=NOW
    )


def _model_lww(info: MetricInfo, pts: list[tuple[int, int]]) -> dict:
    """(tier, bucket) -> value under the reference contract.

    Routing: first archive with retention >= age (src/hoard.coffee:192-198);
    drop future points and age >= maxRetention (:186-189, :274-275);
    align to bucket start (:203); last write (highest seq) wins (:223).
    """
    out: dict[tuple[int, int], tuple[int, float]] = {}
    for seq, (ts, v) in enumerate(pts):
        age = NOW - ts
        if age < 0 or age >= info.max_retention:
            continue
        arch = info.archive_for_age(age)
        bucket = align_ts(ts, arch.seconds_per_point)
        key = (arch.tier, bucket)
        if key not in out or seq > out[key][0]:
            out[key] = (seq, float(v))
    return {k: v for k, (_, v) in out.items()}


_point_lists = st.lists(
    st.tuples(
        # ts spans: future (dropped), in-retention, past-retention (dropped)
        st.integers(min_value=NOW - 4000, max_value=NOW + 50),
        st.integers(min_value=-1000, max_value=1000),  # exact-double values
    ),
    min_size=0,
    max_size=60,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ladder=_ladders, pts=_point_lists)
def test_routing_lww_matches_model(spark, ladder, pts):
    """prepare_batch + lww == the pure-Python reference model, exactly."""
    info = _info(ladder)
    rows = [("m", int(ts), float(v), seq) for seq, (ts, v) in enumerate(pts)]
    df = spark.createDataFrame(rows, POINTS_SCHEMA)
    got = {
        (r["tier"], r["bucket_ts"]): r["value"]
        for r in lww(prepare_batch(df, info, NOW)).collect()
    }
    assert got == _model_lww(info, pts)


@settings(
    max_examples=12,
    deadline=None,
    # filter_too_much: the assume(c_from < c_to) below IS the documented
    # precondition (plan_fetch raises on empty windows — tested
    # separately), and for small-retention ladders it legitimately
    # rejects a large slice of the (from_off, span) space; an unlucky
    # seed can trip the health check before 12 good examples land
    # (observed r14). The filter ratio is bounded, not pathological.
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.filter_too_much,
    ],
)
@given(
    ladder=_ladders,
    pts=_point_lists,
    from_off=st.integers(min_value=-5000, max_value=100),
    span=st.integers(min_value=1, max_value=4000),
)
def test_fetch_window_matches_model(spark, ladder, pts, from_off, span):
    """fetch == buckets in [align(from)+spp, align(to)+spp), null-filled.

    Clamps, single-tier routing, and the strictly-after-from /
    inclusive-of-to boundary of src/hoard.coffee:426-513 — checked
    against the model vector derived from the same LWW dict.
    """
    info = _info(ladder)
    from_ts, to_ts = NOW + from_off, NOW + from_off + span
    # replicate the clamps to predict the routed tier and window
    c_from = max(from_ts, NOW - info.max_retention)
    c_to = min(to_ts, NOW)
    assume(c_from < c_to)  # otherwise plan_fetch raises (tested separately)

    archive, ti = plan_fetch(info, from_ts, to_ts, NOW)
    spp = archive.seconds_per_point
    assert archive is info.archive_for_age(NOW - c_from)
    assert ti.from_interval == align_ts(c_from, spp) + spp
    assert ti.to_interval == align_ts(c_to, spp) + spp

    model = _model_lww(info, pts)
    tier_rows = [
        ("m", b, v) for (t, b), v in sorted(model.items()) if t == archive.tier
    ]
    view = spark.createDataFrame(
        tier_rows, "metric string, bucket_ts long, value double"
    )
    got = collect_values(fetch_df(view, ti, ["m"]), ti, ["m"])["m"]
    expected = [
        model.get((archive.tier, b))
        for b in range(ti.from_interval, ti.to_interval, spp)
    ]
    assert got == expected


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ratio=st.sampled_from([2, 4, 12]),
    xff=st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
    cf=st.sampled_from(["average", "sum", "min", "max", "last"]),
    buckets=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=200),  # tier-0 bucket index
            st.integers(min_value=-1000, max_value=1000),
        ),
        min_size=0,
        max_size=80,
        unique_by=lambda t: t[0],
    ),
)
def test_rollup_xff_gate_matches_model(spark, ratio, xff, cf, buckets):
    """rollup_tier == per-lower-bucket CF with the known/expected >= xff
    gate (src/hoard.coffee:142-156), for every supported CF."""
    hi_spp = 10
    lo_spp = hi_spp * ratio
    rows = [("m", idx * hi_spp, float(v)) for idx, v in buckets]
    view = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )
    got = {
        r["bucket_ts"]: (r["value"], r["known"])
        for r in rollup_tier(view, lo_spp, hi_spp, xff, cf=cf).collect()
    }

    groups: dict[int, list[tuple[int, float]]] = {}
    for idx, v in buckets:
        b = align_ts(idx * hi_spp, lo_spp)
        groups.setdefault(b, []).append((idx * hi_spp, float(v)))
    expected = {}
    for b, vals in groups.items():
        known = len(vals)
        if known == 0 or known / ratio < xff:
            continue
        vs = [v for _, v in vals]
        agg = {
            "average": lambda: sum(vs) / known,
            "sum": lambda: sum(vs),
            "min": lambda: min(vs),
            "max": lambda: max(vs),
            "last": lambda: max(vals)[1],  # value at the latest bucket_ts
        }[cf]()
        expected[b] = (agg, known)

    assert set(got) == set(expected)
    for b, (v, known) in expected.items():
        gv, gk = got[b]
        assert gk == known
        # integer pools: sums are exact in double regardless of addition
        # order; average is one IEEE division of exact operands — so the
        # engine must match the model bit-for-bit
        assert gv == v


@settings(max_examples=200, deadline=None)
@given(
    ladder=_ladders,
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),  # tier selector
            st.integers(min_value=1, max_value=5000),  # bucket offset back
            st.integers(min_value=-1000, max_value=1000),
        ),
        min_size=0,
        max_size=50,
    ),
    xff=st.floats(min_value=0.0, max_value=1.0, allow_nan=False, width=32),
)
def test_whisper_codec_roundtrip(ladder, rows, xff):
    """_pack_metric → parse_header/parse_points is the identity on every
    bucket inside retention (ring wrap, base-point placement, retention
    trim — the reference reader contract, src/hoard.coffee:76-118)."""
    tier_rows: dict[int, dict[int, float]] = {}
    for tier, back, v in rows:
        spp, pts = ladder[tier]
        bucket = align_ts(NOW - back, spp)
        if not (NOW - spp * pts < bucket <= NOW) or bucket <= 0:
            continue
        tier_rows.setdefault(tier, {})[bucket] = float(v)

    raw = _pack_metric(
        list(ladder),
        xff,
        {t: sorted(d.items()) for t, d in tier_rows.items()},
        NOW,
    )
    last_update, max_retention, got_xff, archives = parse_header(raw)
    assert last_update == NOW
    assert max_retention == max(spp * p for spp, p in ladder)
    assert got_xff == pytest.approx(xff, abs=1e-7)
    assert [(a[1], a[2]) for a in archives] == list(ladder)

    got: dict[int, dict[int, float]] = {}
    for tier, interval, value in parse_points(raw):
        got.setdefault(tier, {})[interval] = value
    assert got == {t: d for t, d in tier_rows.items() if d}


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ts_list=st.lists(
        st.integers(min_value=-10**9, max_value=10**12),
        min_size=1,
        max_size=100,
    ),
    spp=st.sampled_from([1, 5, 60, 3600, 86400]),
)
def test_align_col_parity_and_laws(spark, ts_list, spp):
    """align_col == align_ts on arbitrary (incl. negative) timestamps, and
    alignment is an idempotent floor onto spp multiples
    (src/hoard.coffee:11's Number::mod fix is the negative-ts case)."""
    df = spark.createDataFrame([(t,) for t in ts_list], "ts long")
    from hoard_spark.functions import align_col

    got = [
        r["b"] for r in df.select(align_col(F.col("ts"), spp).alias("b")).collect()
    ]
    expected = [align_ts(t, spp) for t in ts_list]
    assert got == expected
    for t, b in zip(ts_list, expected):
        assert b % spp == 0 and b <= t < b + spp
        assert align_ts(b, spp) == b


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ladder_a=_ladders, ladder_b=_ladders, pts=_point_lists)
def test_multi_policy_routing_matches_single_policy(
    spark, ladder_a, ladder_b, pts
):
    """prepare_batch_multi == prepare_batch per metric, exactly.

    The fused streaming path routes a mixed-policy batch through ONE
    broadcast-dim join + array-HOF scan (ingest.py:prepare_batch_multi);
    this pins it row-for-row to the single-policy when-chain it replaces,
    on a batch interleaving two random policies plus an unknown metric
    (which must be dropped by the dim inner join, the stream's
    dead-letter contract)."""
    from hoard_spark.ingest import policy_dim, prepare_batch_multi

    info_a, info_b = _info(ladder_a), _info(ladder_b)
    by_sig = [(info_a, ["a"]), (info_b, ["b"])]
    rows = [
        (["a", "b", "zz"][seq % 3], int(ts), float(v), seq)
        for seq, (ts, v) in enumerate(pts)
    ]
    df = spark.createDataFrame(rows, POINTS_SCHEMA)
    got = sorted(
        tuple(r)
        for r in prepare_batch_multi(df, policy_dim(spark, by_sig), NOW)
        .drop("_sig")
        .collect()
    )
    want = []
    for m, info in (("a", info_a), ("b", info_b)):
        sub = df.where(F.col("metric") == m)
        want += [tuple(r) for r in prepare_batch(sub, info, NOW).collect()]
    assert got == sorted(want)
