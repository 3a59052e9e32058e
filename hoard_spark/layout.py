"""The warehouse's partition layout, decided in one place.

hoard fixes its on-disk format once, in one block of header and archive
constants that every operation reads (src/hoard.coffee:23-26, 54-55).
The engine's format is its partition layout, and this module is that
block: the points and rollups roots are partitioned by
``(tier, metric, date)``, or, with ``metric_buckets=N``, by
``(tier, mb, date)`` with ``mb = crc32(metric) % N`` and ``metric`` a
plain data column. Every module that names a partition column, hashes a
metric to its bucket, builds a ``metric=``/``mb=`` directory name or
writes partitioned parquet into the warehouse asks a ``Layout``.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, DataFrameWriter
from pyspark.sql import functions as F


class Layout:
    def __init__(self, metric_buckets: int | None = None):
        self.metric_buckets = metric_buckets
        self.part_cols = (
            ["tier", "mb", "date"] if metric_buckets else ["tier", "metric", "date"]
        )

    def mb_of(self, metric: str) -> int:
        """The driver twin of ``with_mb``'s column (Spark's ``crc32`` of
        the UTF-8 bytes is zlib's)."""
        return zlib.crc32(metric.encode("utf-8")) % self.metric_buckets

    def branch(self, metric: str) -> str:
        """The directory under ``tier=K`` that holds ``metric``'s rows:
        ``metric=M``, or ``mb=N`` when bucketed."""
        if self.metric_buckets:
            return f"mb={self.mb_of(metric)}"
        return f"metric={metric}"

    def with_mb(self, df: DataFrame) -> DataFrame:
        """Add the bucketed layout's ``mb`` column (no-op when unbucketed)."""
        if not self.metric_buckets:
            return df
        return df.withColumn(
            "mb",
            F.pmod(
                F.crc32(F.col("metric").cast("binary")), F.lit(self.metric_buckets)
            ).cast("int"),
        )

    def writer(self, df: DataFrame) -> DataFrameWriter:
        """The one partitioned writer of the warehouse; the caller sets
        the mode and options.

        Rows are clustered by output partition first, so every
        ``(tier, metric|mb, date)`` dir a write touches gets ONE file,
        not one per input task: the fetch and flush driver routes budget
        files per dir, and a scattered write would push them onto Spark.
        The partition COUNT is pinned: a columns-only repartition is an
        AQE coalesce target, and a small batch would collapse to one
        write task; pinned, each dir still hashes to one task while
        distinct dirs write in parallel. Within each file rows are
        sorted by (metric, bucket_ts), so parquet min/max statistics
        skip row groups at read (the Spark analog of the reference's
        contiguous-run write coalescing, src/hoard.coffee:302-323).
        Sorting by the partition columns first satisfies the file
        writer's required ordering, so it does not sort again.
        """
        sort_cols = self.part_cols + [
            c for c in ("metric", "bucket_ts") if c not in self.part_cols
        ]
        return (
            df.repartition(
                df.sparkSession.sparkContext.defaultParallelism, *self.part_cols
            )
            .sortWithinPartitions(*sort_cols)
            .write.partitionBy(*self.part_cols)
        )
