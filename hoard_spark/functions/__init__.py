"""Scalar / column helpers shared across the engine.

The one scalar function the reference has is bucket alignment
(``interval = ts - ts mod secondsPerPoint`` with a negative-modulo fix,
src/hoard.coffee:11, 203). Everything here stays JVM-side (built-in column
expressions) so it participates in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def align_ts(ts: int, seconds_per_point: int) -> int:
    """Python-side bucket alignment: floor ts to a multiple of spp.

    Python ``%`` already yields a non-negative result for positive divisors,
    which is exactly what the reference's ``Number::mod`` monkey-patch
    restores in JS (src/hoard.coffee:11).
    """
    return int(ts) - int(ts) % int(seconds_per_point)


def align_col(ts: Column, seconds_per_point: int) -> Column:
    """Column-side bucket alignment (epoch-seconds long -> bucket start)."""
    spp = int(seconds_per_point)
    # floor-division on longs; ts is epoch seconds >= 0 in practice, but
    # pmod keeps the semantics correct for negative timestamps too.
    return (ts - F.pmod(ts, F.lit(spp))).cast("long")


def bucket_date_col(bucket_ts: Column) -> Column:
    """Partition date derived from an epoch-seconds bucket (UTC session tz)."""
    return F.to_date(F.timestamp_seconds(bucket_ts))


def spine(
    spark: SparkSession, from_interval: int, to_interval: int, step: int
) -> DataFrame:
    """Dense bucket spine ``[from_interval, to_interval)`` at ``step``.

    The reference materializes a values vector with one slot per bucket and
    nulls for gaps (src/hoard.coffee:450-456, 504-509); the Spark-native
    equivalent is a generated sequence left-joined against the data.
    ``sequence`` is evaluated JVM-side; one row per bucket.
    """
    if to_interval <= from_interval:
        return spark.range(0).select(F.col("id").alias("bucket_ts"))
    return spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(int(from_interval)),
                F.lit(int(to_interval - step)),
                F.lit(int(step)),
            )
        ).alias("bucket_ts")
    )


def split_words() -> Column:
    """The text surfaces' tokenizer: the ``text`` column trimmed and split
    on runs of spaces, case kept — one shared form, so every query and
    operator that counts or shingles words agrees on what a word is."""
    return F.split(F.trim("text"), " +")
