"""Bucketed (co-located) tables: shuffle-free joins on the bucket key.

The biggest repeated cost in a 100 TB warehouse is re-shuffling the same
fact tables on the same join keys query after query. Spark's answer is
Hive-style bucketing: ``bucketBy(N, key)`` at write time hash-partitions
the FILES by key, and any later equi-join or aggregation on that key
reads the co-located buckets with **no Exchange in the plan** — the
shuffle is paid once at write, amortized over every subsequent query.
(`spark.sql.sources.bucketing.enabled` is on by default; both sides must
bucket on the join key with compatible bucket counts.)

This complements the engine's own directory-hash layout
(HoardEngine ``metric_buckets``, hoard_spark/layout.py — which
targets partition-pruned point reads): ``bucketBy`` targets join/agg
locality on analytic tables. tests/test_bucketing.py pins the plan
contract: co-bucketed join has no shuffle Exchange, the unbucketed twin
does, results identical.

No reference analog (src/hoard.coffee is a single-file-per-metric
store); this is Spark warehouse discipline for the analytics surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed parquet table in the session
    catalog. ``sort_cols`` additionally sorts within each bucket file,
    letting a later sort-merge join skip its Sort as well. ``path``
    pins an external location (defaults to the warehouse dir)."""
    w = df.write.format("parquet").mode(mode).bucketBy(
        num_buckets, *bucket_cols
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def cobucketed_join(
    spark: SparkSession, left: str, right: str, on: list[str]
) -> DataFrame:
    """Join two co-bucketed catalog tables on their bucket key, forcing
    the sort-merge strategy (a broadcast would hide whether bucketing
    removed the shuffle — at real scale neither side broadcasts)."""
    return spark.table(left).hint("merge").join(spark.table(right), on)
