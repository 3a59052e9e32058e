"""Cascaded downsampling — the Spark-native propagate (reference O6).

Reference semantics reproduced (src/hoard.coffee:71-178, 364-379):

- For a lower-tier bucket ``B`` of width ``lower_spp``, collect the
  ``expected = lower_spp / higher_spp`` higher-tier buckets covering
  ``[B, B + lower_spp)``; ``known`` = how many actually hold a value.
- Emit ``avg(known values)`` into the lower tier iff ``known > 0`` and
  ``known / expected >= xFilesFactor`` (:142-155). The aggregation function
  is the arithmetic mean (:156 — the reference's only CF; we additionally
  support the classic Whisper CF set, see ``CF_EXPRS``).
- Tiers cascade: tier K+1 aggregates tier K's *values* (averages of
  averages), not raw points (:364-379).

Spark design: each tier is one declarative ``groupBy(aligned bucket).agg``
over the previous tier's view — one shuffle per tier with map-side partial
aggregation, xff gate as a post-aggregation filter (the ``HAVING``).
Incremental maintenance recomputes only the (metric, date) partitions a
batch touched (the ``_.uniq`` dedup of propagate targets at :373-378,
generalized), written with dynamic partition overwrite.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hoard_spark.catalog import MetricInfo
from hoard_spark.functions import align_col

# Classic Whisper consolidation functions. The reference hard-codes mean
# ("TODO: Another CF besides average?", src/hoard.coffee:156); the engine
# exposes the standard set as declarative aggregate expressions. Lazy
# (callables) because Column construction needs an active session.
CF_EXPRS: dict[str, "Callable[[], Column]"] = {
    "average": lambda: F.avg("value"),
    "sum": lambda: F.sum("value"),
    "min": lambda: F.min("value"),
    "max": lambda: F.max("value"),
    # "last" in Whisper = value of the latest higher-tier bucket present.
    "last": lambda: F.max_by("value", "bucket_ts"),
}


def rollup_tier(
    higher_view: DataFrame,
    lower_spp: int,
    higher_spp: int,
    x_files_factor: float,
    cf: str = "average",
) -> DataFrame:
    """Aggregate one tier into the next-coarser tier.

    ``higher_view`` must have columns ``metric, bucket_ts, value`` with at
    most one row per (metric, bucket_ts) — i.e. already LWW-normalized.
    Returns ``metric, bucket_ts, value, known`` for buckets passing the gate.
    """
    if lower_spp % higher_spp != 0:
        raise ValueError(f"{lower_spp=} is not a multiple of {higher_spp=}")
    expected = lower_spp // higher_spp
    agg = CF_EXPRS[cf]()
    out = (
        higher_view.groupBy(
            "metric", align_col(F.col("bucket_ts"), lower_spp).alias("bucket_ts")
        )
        .agg(agg.alias("value"), F.count("value").alias("known"))
        # knownPercent >= xff, and at least one known value
        # (src/hoard.coffee:142-155).
        .where(
            (F.col("known") > 0)
            & (F.col("known") / F.lit(float(expected)) >= F.lit(float(x_files_factor)))
        )
    )
    return out


def merge_direct(rollup: DataFrame, direct: DataFrame | None) -> DataFrame:
    """Merge rolled-up buckets with directly-ingested lower-tier points.

    updateMany routes points older than a tier's retention directly into
    coarser archives (src/hoard.coffee:254-277); those buckets coexist with
    propagated ones. A propagated value written to the same slot supersedes a
    direct write (propagation runs after the archive commits, :360-362), so
    the rollup side wins on conflict.
    """
    if direct is None:
        return rollup
    direct = direct.select(
        "metric", "bucket_ts", F.col("value").alias("_direct_value")
    )
    joined = rollup.select(
        "metric", "bucket_ts", "value", "known"
    ).join(direct, ["metric", "bucket_ts"], "full_outer")
    return joined.select(
        "metric",
        "bucket_ts",
        F.coalesce(F.col("value"), F.col("_direct_value")).alias("value"),
        F.coalesce(F.col("known"), F.lit(0)).alias("known"),
    )


def rollup_buckets(
    children: list[tuple[int, float]],
    lower_spp: int,
    higher_spp: int,
    x_files_factor: float,
) -> dict[int, tuple[float, int]]:
    """``rollup_tier`` (average CF) on the driver, for one series' LWW-
    normalized ``(bucket_ts, value)`` rows: ``{lower bucket: (mean,
    known)}`` for the buckets passing the same xff gate."""
    if lower_spp % higher_spp != 0:
        raise ValueError(f"{lower_spp=} is not a multiple of {higher_spp=}")
    expected = float(lower_spp // higher_spp)
    groups: dict[int, list[float]] = {}
    for b, v in children:
        groups.setdefault(b - b % lower_spp, []).append(v)
    return {
        b: (sum(vs) / len(vs), len(vs))
        for b, vs in groups.items()
        if len(vs) / expected >= float(x_files_factor)
    }


def plan_cascade(info: MetricInfo) -> list[tuple[int, int, int]]:
    """``[(tier_k, higher_spp, lower_spp), ...]`` for tiers 1..N-1."""
    plan = []
    for higher, lower in zip(info.archives, info.archives[1:]):
        plan.append((lower.tier, higher.seconds_per_point, lower.seconds_per_point))
    return plan
