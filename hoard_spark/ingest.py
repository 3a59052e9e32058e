"""Batch ingest — the Spark-native update / updateMany paths.

Reference semantics reproduced (citations into /root/reference):

- ``update`` (O3, src/hoard.coffee:181-239): reject future timestamps and
  points at/past maxRetention (``0 <= now - ts < maxRetention``, :186-189);
  route to the highest-precision archive whose retention covers the point's
  age (:192-198); align to the bucket start (:203); last-write-wins per
  (metric, bucket) slot (:213, :223).
- ``updateMany`` (O4, :241-293): same age routing per point (:254-277),
  points older than the oldest archive are dropped silently (:274-275).
- ``updateManyArchive`` (O5, :295-390): alignment + packed writes. The
  run-coalescing machinery (and its concat bug, SURVEY.md §5.3) has no Spark
  analog — the *contract* is last-write-wins per bucket, which we implement
  with an explicit monotone ingest sequence ``seq`` as the tie-break.

Spark design: a batch is an append of aligned rows into a Parquet table
partitioned by ``(tier, metric, date)`` (or ``(tier, mb, date)``); there
is no in-place overwrite at 100 TB. The append goes through the
warehouse's one partitioned writer, ``Layout.writer``
(hoard_spark/layout.py), which the rollup recompute, compaction, the
bucketed drop and the Whisper import share. LWW is enforced at read
(window/max_by over ``seq``) and folded in physically by the compaction
job (engine.compact). Appends are cheap and
contention-free; dedup cost rides on buckets actually read. A flush small
enough for the driver (``route_points``, HoardEngine._flush_on_driver)
instead rewrites each partition it touches as one folded file, with the
same routing and the same LWW result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hoard_spark.catalog import HoardError, MetricInfo
from hoard_spark.functions import align_col, align_ts, bucket_date_col
from hoard_spark.layout import Layout

POINTS_SCHEMA = "metric string, ts long, value double, seq long"


def prepare_batch(df: DataFrame, info: MetricInfo, now: int) -> DataFrame:
    """Validate, route and align one metric's raw points.

    The single-policy reference form of ``prepare_batch_multi``, which
    the Spark write path uses; tests pin that one row-for-row against
    this.

    Input columns: ``metric, ts, value, seq`` (epoch seconds). Output adds
    ``tier`` (routed archive), ``bucket_ts`` (aligned) and ``date``
    (partition column) and drops invalid points (updateMany's batch path
    silently skips them):

    - future points (``ts > now``) are dropped (update() rejects them with
      an error on the driver, ``validate_single``, src/hoard.coffee:186-189).
    - points with ``age >= maxRetention`` are dropped (:274-275).

    Everything below is built-in column expressions — the routing CASE is a
    chain of ``when`` clauses over the (few) archive tiers, so the whole
    batch stays inside whole-stage codegen; no Python UDF.
    """
    age = F.lit(int(now)) - F.col("ts")
    df = df.where((age >= 0) & (age < F.lit(info.max_retention)))

    # Route each point to the highest-precision archive covering its age
    # (first archive with retention >= age — src/hoard.coffee:192-198).
    routing = None
    for a in info.archives:
        cond = age <= F.lit(a.retention)
        routing = F.when(cond, F.lit(a.tier)) if routing is None else routing.when(
            cond, F.lit(a.tier)
        )
    df = df.withColumn("tier", routing.cast("int"))

    # Align to the routed tier's bucket width (src/hoard.coffee:203, 296-300).
    bucket = None
    for a in info.archives:
        expr = align_col(F.col("ts"), a.seconds_per_point)
        bucket = (
            F.when(F.col("tier") == a.tier, expr)
            if bucket is None
            else bucket.when(F.col("tier") == a.tier, expr)
        )
    df = df.withColumn("bucket_ts", bucket.cast("long"))
    df = df.withColumn("date", bucket_date_col(F.col("bucket_ts")))
    return df.select("metric", "tier", "bucket_ts", "date", "value", "seq", "ts")


def route_points(
    info: MetricInfo,
    points: list[tuple[int, float]],
    now: int,
    seq_start: int,
) -> list[tuple[int, int, float, int, int]]:
    """``prepare_batch`` for a batch small enough to route on
    the driver: ``(tier, bucket_ts, value, seq, ts)`` per valid point,
    ``seq = seq_start + list position`` as ``points_batch`` assigns it.
    Future and too-old points are dropped silently; each survivor goes
    to the finest archive covering its age, aligned to that archive's
    bucket width (src/hoard.coffee:192-203, 254-277)."""
    rows = []
    for i, (ts, value) in enumerate(points):
        age = now - ts
        if not 0 <= age < info.max_retention:
            continue
        a = info.archive_for_age(age)
        rows.append(
            (a.tier, align_ts(ts, a.seconds_per_point), value, seq_start + i, ts)
        )
    return rows


def policy_dim(spark: SparkSession, by_sig) -> DataFrame:
    """Broadcast policy dimension for single-pass multi-policy routing.

    ``by_sig`` is ``[(MetricInfo, [metric, ...]), ...]`` — one entry per
    distinct retention-policy signature. One dimension row per metric:
    ``(metric, _sig, _max_retention, _archives)`` where ``_archives`` is
    the tier table ``array<struct<tier, spp, retention>>``.

    The catalog is a driver-side control plane (one JSON file, like the
    reference's per-file headers), so materializing it as a broadcast dim
    adds no new scaling assumption; a metastore-backed deployment swaps
    this for a parquet/Delta dim table and the same join.
    """
    rows = []
    for sid, (info, metrics) in enumerate(by_sig):
        archives = [
            (a.tier, a.seconds_per_point, a.retention) for a in info.archives
        ]
        for m in metrics:
            rows.append((m, sid, info.max_retention, archives))
    schema = (
        "metric string, _sig int, _max_retention long, "
        "_archives array<struct<tier:int, spp:long, retention:long>>"
    )
    return F.broadcast(spark.createDataFrame(rows, schema))


def prepare_batch_multi(df: DataFrame, dim: DataFrame, now: int) -> DataFrame:
    """Validate, route and align a MULTI-policy batch in one pass.

    The single-policy ``prepare_batch`` bakes the archive table into a
    ``when``-chain of literals, so a batch spanning P policies costs P
    scans. Here the archive table rides in on a broadcast dimension join
    (``policy_dim``) and the routing CASE becomes an array higher-order
    function over the per-metric tier table — one scan for the whole
    batch, whatever the policy mix. Per metric the semantics are exactly
    ``prepare_batch``'s (updateMany batch semantics, silent skip of
    future/too-old points — src/hoard.coffee:254-277):

    - inner join drops unknown metrics (the stream's dead-letter contract),
    - ``0 <= age < maxRetention`` validity gate,
    - route to the finest archive with ``retention >= age`` (the archive
      list is validated sorted fine->coarse with strictly increasing
      retention, so ``filter(...)[0]`` IS the reference's first-match
      scan, src/hoard.coffee:192-198),
    - align to the routed tier's bucket width.

    Everything stays inside whole-stage codegen: array ``filter`` over a
    handful of tiers beats a per-policy scan and never leaves the JVM.
    Output columns: prepare_batch's plus ``_sig`` (policy-group id).
    """
    age = F.lit(int(now)) - F.col("ts")
    arch = F.element_at(
        F.filter(F.col("_archives"), lambda a: age <= a["retention"]), 1
    )
    out = (
        df.join(dim, "metric")
        .where((age >= 0) & (age < F.col("_max_retention")))
        .withColumn("_arch", arch)
        .withColumn("tier", F.col("_arch")["tier"].cast("int"))
        .withColumn(
            "bucket_ts",
            (F.col("ts") - F.pmod(F.col("ts"), F.col("_arch")["spp"])).cast(
                "long"
            ),
        )
        .withColumn("date", bucket_date_col(F.col("bucket_ts")))
    )
    return out.select(
        "metric", "tier", "bucket_ts", "date", "value", "seq", "ts", "_sig"
    )


def lww(df: DataFrame) -> DataFrame:
    """Collapse duplicate (metric, tier, bucket_ts) rows to last-write-wins.

    ``max_by(value, seq)`` is a JVM-side declarative aggregate — one shuffle
    on the group keys, map-side partial aggregation included. ``seq`` is the
    determinism anchor (SURVEY.md §7 hard part 1).
    """
    return df.groupBy("metric", "tier", "bucket_ts").agg(
        F.max_by("value", "seq").alias("value"),
        F.max("seq").alias("seq"),
    )


class Ingestor:
    """Writes prepared batches into the points table."""

    def __init__(self, spark: SparkSession, points_path: str, layout: Layout):
        self.spark = spark
        self.points_path = points_path
        self.layout = layout

    def prepare(self, df: DataFrame, by_sig, now: int) -> DataFrame:
        """Validate + route + align a batch of the metrics ``by_sig``
        names (``policy_dim``'s argument; rows of any other metric are
        dropped), adding the layout's ``mb`` column when bucketed — the
        exact rows ``write`` will append, which the engine's write core
        caches and reuses as the rollup pass's in-memory ``pending``
        view."""
        return self.layout.with_mb(
            prepare_batch_multi(df, policy_dim(self.spark, by_sig), now)
        )

    def write(self, prepared: DataFrame) -> None:
        """Append a ``prepare``d batch to the points table through the
        warehouse's one clustered writer (``Layout.writer``): one file per
        touched (tier, metric|mb, date) dir per append."""
        self.layout.writer(prepared).mode("append").parquet(self.points_path)

    def points_batch(
        self,
        metric: str,
        points: list[tuple[int, float]],
        seq_start: int,
    ) -> DataFrame:
        """Build a raw-points DataFrame from ``[(ts, value), ...]``.

        ``seq`` is assigned by list position: the reference's contract is
        that a later write to the same bucket wins (slot overwrite,
        src/hoard.coffee:223), so ingest order is the tie-break.
        """
        rows = [
            (metric, int(ts), float(v), seq_start + i)
            for i, (ts, v) in enumerate(points)
        ]
        return self.spark.createDataFrame(rows, POINTS_SCHEMA)


def validate_single(info: MetricInfo, ts: int, now: int) -> None:
    """update()'s strict age check (src/hoard.coffee:186-189)."""
    age = now - ts
    if not (0 <= age < info.max_retention):
        raise HoardError(
            f"timestamp not covered by any archive of {info.metric} "
            f"(age={age}s, maxRetention={info.max_retention}s)"
        )
