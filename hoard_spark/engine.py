"""HoardEngine — the facade tying catalog + ingest + rollup + fetch together.

This is the Spark-native replacement for the reference's five-call API
(src/hoard.coffee:515-519):

    create / info       -> Catalog (driver-side metadata)
    update / updateMany -> partitioned Parquet write + LWW-at-read
    fetch               -> tier routing + pruned scan + spine gap-fill

plus the maintenance jobs a 100 TB deployment needs (compaction, retention
drop) and the incremental rollup cascade (the reference's propagate).

Writes take one of two routes. The Spark route is one write core
(``_ingest_prepared``) for every batch: a stream micro-batch, an
``ingest_df`` (its one-metric case) and an ``update_many`` flush too big
for the driver all append their aligned rows beside a rollup recompute
scoped, inside the plan, to the partitions the batch touched; the driver
collects only the batch's (metric, tier) spans. A small ``update_many`` flush
(its fold and cascade reading at most ``fetch_driver_max_files`` files)
is written on the driver with no Spark job: each touched points partition
is rewritten as one LWW-folded file and each touched rollup partition is
recomputed and swapped — the write-side twin of the driver-side fetch.

Storage layout (Parquet; points partitions grow by appends and shrink
back to one file when folded by a driver flush or compact()):

    <warehouse>/points/tier=K/metric=M/date=D/   raw aligned points
        (bucket_ts long, value double, seq long, ts long)
    <warehouse>/rollups/tier=K/metric=M/date=D/  materialized downsamples
        (bucket_ts long, value double, known long)

Partitioning by (tier, metric, date) gives partition pruning on every fetch
(a range fetch touches only the dates it covers) and makes retention drop a
partition delete. For very-high-cardinality metric spaces, the opt-in
hash-bucketed layout (``metric_buckets=N``) swaps the ``metric`` partition
column for ``mb = crc32(metric) % N`` with ``metric`` as a data column.
hoard_spark/layout.py is that layout decision, in one ``Layout``: the
partition columns, the ``mb`` hash, the partition-dir names and the one
partitioned writer that the append, the rollup recompute, compaction and
drop share.
Data-plane filesystem operations go through the Hadoop FileSystem API
(hoard_spark/fsutil.py) so maintenance works on file://, HDFS and S3
alike; the driver-side JSON control plane (catalog/seq/layout/markers) is
the documented single-writer simplification that becomes a metastore table
in production.
"""

from __future__ import annotations

import fcntl
import io
import json
import os
import time
import uuid
from contextlib import contextmanager
from datetime import datetime, timezone

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hoard_spark.catalog import Catalog, HoardError, MetricInfo, save_json
from hoard_spark.fetch import (
    TimeInfo,
    collect_values,
    date_span,
    fetch_df,
    plan_fetch,
    read_lww,
    read_values,
)
from hoard_spark.fsutil import (
    SAFE_PART_RE,
    WarehouseFS,
    is_data_file,
    read_parquet_or_empty,
    strip_local_uri,
)
from hoard_spark.functions import align_ts, bucket_date_col
from hoard_spark.ingest import Ingestor, lww, route_points, validate_single
from hoard_spark.layout import Layout
from hoard_spark.rollup import (
    merge_direct,
    plan_cascade,
    rollup_buckets,
    rollup_tier,
)

_POINTS_READ_SCHEMA = T.StructType(
    [
        T.StructField("bucket_ts", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("seq", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("tier", T.IntegerType()),
        T.StructField("metric", T.StringType()),
        T.StructField("date", T.DateType()),
    ]
)

_ROLLUP_READ_SCHEMA = T.StructType(
    [
        T.StructField("bucket_ts", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("known", T.LongType()),
        T.StructField("tier", T.IntegerType()),
        T.StructField("metric", T.StringType()),
        T.StructField("date", T.DateType()),
    ]
)


DAY = 86400


def _day_start(date_str: str) -> int:
    dt = datetime.strptime(date_str, "%Y-%m-%d").replace(tzinfo=timezone.utc)
    return int(dt.timestamp())


def _day_name(day: int) -> str:
    """``date=`` partition value of a UTC day number (epoch seconds // DAY)."""
    return datetime.fromtimestamp(day * DAY, tz=timezone.utc).date().isoformat()


class _OverBudget(Exception):
    """A driver-side flush needs more files than its budget allows."""


class HoardEngine:
    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        metric_buckets: int | None = None,
        fetch_driver_max_files: int = 32,
    ):
        """``metric_buckets``: opt-in hash-bucketed layout for very-high-
        cardinality metric spaces. With N buckets the partition scheme is
        ``(tier, mb, date)`` where ``mb = crc32(metric) % N`` and ``metric``
        is a plain data column — a million metrics become N directories
        instead of a million, while fetches still prune to one (tier, mb)
        branch and parquet min/max on the sorted ``metric`` column skips
        row groups within it. The layout choice is persisted with the
        warehouse (the stored value wins on reopen) because it is a
        physical property of the written data; ``self.layout``
        (hoard_spark/layout.py) carries it to every path and writer.

        ``fetch_driver_max_files``: the one file budget of both driver
        routes, which run with no Spark job — a ``fetch()`` whose pruned
        partition list is at most this many parquet files, and an
        ``update_many()`` flush whose fold and rollup cascade read or
        replace at most this many. 0 forces the Spark path for both.
        """
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        self.fetch_driver_max_files = fetch_driver_max_files
        self.fs = WarehouseFS(spark)  # data plane: works on file://, HDFS, S3
        # Control plane (catalog/seq/layout JSON) is driver-local plain
        # I/O by design; normalize local file: URI forms to the OS path
        # so file:/wh and /wh name ONE control plane, not a literal
        # "file:" directory (ADVICE r7 URI-forms family).
        ctl_dir = strip_local_uri(warehouse_dir) or warehouse_dir
        self.catalog = Catalog(ctl_dir)
        self.points_path = os.path.join(warehouse_dir, "points")
        self.rollups_path = os.path.join(warehouse_dir, "rollups")
        self._seq_path = os.path.join(ctl_dir, "_hoard_seq.json")
        self._layout_path = os.path.join(ctl_dir, "_hoard_layout.json")
        if os.path.exists(self._layout_path):
            with open(self._layout_path) as f:
                stored = json.load(f).get("metric_buckets")
            self.metric_buckets = stored
        else:
            self.metric_buckets = metric_buckets
            save_json(self._layout_path, {"metric_buckets": metric_buckets})
        self.layout = Layout(self.metric_buckets)
        # (tier, metric) pairs with a materialized rollup — replaces the
        # per-metric directory probe, which the bucketed layout can't offer
        self._mat_path = os.path.join(ctl_dir, "_hoard_materialized.json")
        self._materialized: set[str] = set()
        if os.path.exists(self._mat_path):
            with open(self._mat_path) as f:
                self._materialized = set(json.load(f))
        self._lock_path = os.path.join(ctl_dir, "_hoard_writer.lock")
        self._lock_depth = 0
        self.ingestor = Ingestor(spark, self.points_path, self.layout)

    @contextmanager
    def _writer_lock(self):
        """Serialize mutating ops per warehouse (reference FIXME parity:
        'Check file lock?' at src/hoard.coffee:67, 183, 243 — the engine,
        like the reference, assumes a single writer; this makes the
        assumption enforced instead of silent).

        An exclusive, non-blocking ``flock`` on a control-plane lock file,
        held for the duration of one mutating operation: a second writer
        — another process, or another engine handle in this process —
        gets an immediate ``HoardError`` instead of interleaving catalog/
        seq writes. Advisory flock is released by the OS on process death,
        so no stale-lock recovery is needed. Reentrant within one engine
        handle (ingest -> propagate nests). Like the rest of the control
        plane this guards same-driver-host writers; a multi-driver
        deployment moves the control plane to a metastore (catalog.py).
        """
        if self._lock_depth:
            self._lock_depth += 1
            try:
                yield
            finally:
                self._lock_depth -= 1
            return
        fd = os.open(self._lock_path, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                raise HoardError(
                    "warehouse is locked by another writer "
                    f"(lock file: {self._lock_path})"
                ) from None
            os.write(fd, f"{os.getpid()}\n".encode())
            self._lock_depth = 1
            try:
                yield
            finally:
                self._lock_depth = 0
                fcntl.flock(fd, fcntl.LOCK_UN)
        finally:
            os.close(fd)

    # ------------------------------------------------------- layout helpers
    def _metrics_pred(self, metrics: list[str]):
        pred = F.col("metric").isin(metrics)
        if self.metric_buckets:
            pred = pred & F.col("mb").isin(
                sorted({self.layout.mb_of(m) for m in metrics})
            )
        return pred

    def _mark_materialized(self, tier: int, metrics: list[str]) -> None:
        keys = {f"{tier}:{m}" for m in metrics}
        if keys <= self._materialized:
            return
        self._materialized |= keys
        save_json(self._mat_path, sorted(self._materialized))

    def _is_materialized(self, tier: int, metric: str) -> bool:
        if f"{tier}:{metric}" in self._materialized:
            return True
        # legacy unbucketed warehouses predate the marker file
        if not self.metric_buckets:
            return self.fs.isdir(
                os.path.join(
                    self.rollups_path, f"tier={tier}", self.layout.branch(metric)
                )
            )
        return False

    # ------------------------------------------------------------------ DDL
    def create(
        self,
        metric: str,
        archives: list[tuple[int, int]],
        x_files_factor: float = 0.5,
        now: int | None = None,
    ) -> MetricInfo:
        """Reference create() (O1, src/hoard.coffee:30-69)."""
        with self._writer_lock():
            return self.catalog.create(metric, archives, x_files_factor, now)

    def create_many(
        self,
        entries: list[tuple[str, list[tuple[int, int]], float]],
        now: int | None = None,
    ) -> list[MetricInfo]:
        """Bulk create with ONE catalog write (see Catalog.create_many —
        per-metric create() from a bulk registration is O(metrics²)
        driver bytes; the Whisper-tree migration is the canonical
        caller)."""
        with self._writer_lock():
            return self.catalog.create_many(entries, now)

    def info(self, metric: str) -> MetricInfo:
        """Reference info() (O2, src/hoard.coffee:392-424)."""
        return self.catalog.info(metric)

    # -------------------------------------------------------------- ingest
    def _reserve_seq(self, n: int) -> int:
        """Reserve ``n`` consecutive values of the warehouse-wide write
        sequence and return the first.

        One allocator orders every writer: ``update_many`` reserves one
        value per point and a micro-batch without a source ``seq`` one
        2^40 block (streaming/ingest.py), so a later write always carries
        the larger ``seq`` and wins LWW, whichever path wrote the bucket
        before. The state is re-read under the writer lock each time, so
        engine handles sharing a warehouse stay ordered. A seq file of
        per-metric counters (the earlier format), or none, starts the
        allocator above its counters and above the largest ``seq`` on
        disk (one Spark job, once per warehouse).
        """
        with self._writer_lock():
            state: dict = {}
            if os.path.exists(self._seq_path):
                with open(self._seq_path) as f:
                    state = json.load(f)
            if state.get("scope") == "warehouse":
                start = int(state["next"])
            else:
                start = max([0, *map(int, state.values())])
                if self.fs.isdir(self.points_path):
                    top = self._read_points().agg(F.max("seq")).first()[0]
                    if top is not None:
                        start = max(start, top + 1)
            if start + n >= 1 << 63:
                raise HoardError("warehouse write sequence exhausted")
            save_json(self._seq_path, {"scope": "warehouse", "next": start + n})
            return start

    def update(
        self, metric: str, value: float, ts: int, now: int | None = None
    ) -> None:
        """Single-point write (O3, src/hoard.coffee:181-239).

        Unlike the reference — whose single-update propagation is commented
        out (:227-238, a documented divergence from Python Whisper) — this
        engine propagates, per intended Whisper semantics (SURVEY.md §5.3).
        """
        now = int(now if now is not None else time.time())
        info = self.catalog.info(metric)
        validate_single(info, int(ts), now)
        self.update_many(metric, [(int(ts), float(value))], now=now)

    def update_many(
        self,
        metric: str,
        points: list[tuple[int, float]],
        now: int | None = None,
        propagate: bool = True,
    ) -> None:
        """Batch write (O4/O5, src/hoard.coffee:241-390).

        Within one call, points are applied in chronological order (the
        reference sorts each archive's batch back to chronological before
        committing, :242, :284), so the newest timestamp wins a bucket;
        across calls, the later call wins (slot overwrite). Both collapse to
        LWW on a ``seq`` assigned here in (ts, input-position) order.

        A small flush is written on the driver with no Spark job
        (``_flush_on_driver``); any other takes ``ingest_df``.
        """
        now = int(now if now is not None else time.time())
        info = self.catalog.info(metric)
        if not points:
            return
        ordered = [
            (int(points[i][0]), float(points[i][1]))
            for i in sorted(range(len(points)), key=lambda i: (points[i][0], i))
        ]  # stable chronological order
        with self._writer_lock():
            base = self._reserve_seq(len(ordered))
            if self._flush_on_driver(metric, info, ordered, base, now, propagate):
                return
            df = self.ingestor.points_batch(metric, ordered, seq_start=base)
            self.ingest_df(metric, df, now=now, propagate=propagate)

    def _flush_on_driver(
        self,
        metric: str,
        info: MetricInfo,
        points: list[tuple[int, float]],
        seq_start: int,
        now: int,
        propagate: bool,
    ) -> bool:
        """Write one ``update_many`` flush with no Spark job, or return
        False, having written nothing, for the Spark path to take it.

        Same result as ``ingest_df``: ``route_points`` mirrors
        ``prepare_batch``; every points partition the flush touches is
        rewritten as ONE file holding what ``compact(metric)`` would
        leave there; each cascade tier k recomputes every touched
        (metric, date D) pair as ``_propagate_many_impl`` scopes it —
        the xff-gated mean of tier k-1 over [D, D + 1 day + spp_k),
        merged with tier k's direct points (the rollup side wins),
        keeping the buckets dated D.

        Runs only for the unbucketed layout, a metric name Spark writes
        verbatim, dates within the fetch's date-span guard, rollup inputs
        already materialized (an on-the-fly cascade is a Spark plan, as
        in fetch), and at most ``fetch_driver_max_files`` files to read
        or replace. Points are written before rollups: a crash can leave
        rollups stale (``propagate_many`` rebuilds them), never ahead of
        the points.
        """
        budget = self.fetch_driver_max_files
        if budget <= 0 or self.metric_buckets or not SAFE_PART_RE.match(metric):
            return False
        routed = route_points(info, points, now, seq_start)
        cascade = plan_cascade(info) if propagate else []
        batch: dict[tuple[int, int], list[tuple[int, float, int, int]]] = {}
        for tier, b, value, seq, ts in routed:
            batch.setdefault((tier, b // DAY), []).append((b, value, seq, ts))
        touched: dict[int, list[int]] = {}  # cascade tier -> days
        days = {day for _, day in batch}
        for tier_k, _, lower_spp in cascade:
            touched[tier_k] = sorted(
                {(b - b % lower_spp) // DAY for t, b, *_ in routed if t <= tier_k}
            )
            for day in touched[tier_k]:
                days.update((day, (day * DAY + DAY + lower_spp - 1) // DAY))
        if days and not self._date_span_ok(max(days) - min(days) + 1):
            return False
        for tier_k, _, _ in cascade:
            if (
                touched[tier_k]
                and tier_k > 1
                and not touched[tier_k - 1]
                and not self._is_materialized(tier_k - 1, metric)
            ):
                return False

        listed: dict[tuple[str, int, int], list[str]] = {}

        def files(root: str, tier: int, day: int) -> list[str]:
            key = (root, tier, day)
            if key not in listed:
                listed[key] = self.fs.list_date_files(
                    f"{root}/tier={tier}/{self.layout.branch(metric)}",
                    [_day_name(day)],
                )
                if sum(map(len, listed.values())) > budget:
                    raise _OverBudget
            return listed[key]

        points_views: dict[tuple[int, int], dict[int, list]] = {}

        def points_view(tier: int, day: int) -> dict[int, list]:
            if (tier, day) not in points_views:
                points_views[(tier, day)] = read_lww(
                    files(self.points_path, tier, day), self._open_file,
                    metric, fold_ts=True, rows=batch.get((tier, day), ()),
                )
            return points_views[(tier, day)]

        rollups: dict[tuple[int, int], dict[int, tuple[float, int]]] = {}

        def tier_values(tier: int, day: int) -> dict[int, float]:
            if tier == 0:
                return {b: r[1] for b, r in points_view(0, day).items()}
            if (tier, day) in rollups:
                return {b: v for b, (v, _) in rollups[(tier, day)].items()}
            old = read_lww(files(self.rollups_path, tier, day), self._open_file, metric)
            return {b: r[1] for b, r in old.items()}

        try:
            for tier, day in batch:
                points_view(tier, day)
            for tier_k, higher_spp, lower_spp in cascade:
                for day in touched[tier_k]:
                    lo, hi = day * DAY, day * DAY + DAY + lower_spp
                    children = [
                        (b, v)
                        for d in range(day, (hi - 1) // DAY + 1)
                        for b, v in tier_values(tier_k - 1, d).items()
                        if lo <= b < hi
                    ]
                    out = {b: (r[1], 0) for b, r in points_view(tier_k, day).items()}
                    out.update(rollup_buckets(
                        children, lower_spp, higher_spp, info.x_files_factor
                    ))
                    out = {b: vk for b, vk in out.items() if b // DAY == day}
                    # an empty recompute leaves the partition as it is, as
                    # a dynamic overwrite writing no rows would
                    if out:
                        rollups[(tier_k, day)] = out
                        files(self.rollups_path, tier_k, day)
        except _OverBudget:
            return False

        # lastUpdate moves only when a point lands, as on the Spark path
        if batch:
            self.catalog.touch(metric, now)
        for tier, day in batch:
            fold = points_views[(tier, day)]
            bs = sorted(fold)
            self._swap_partition(
                self.points_path, tier, metric, day,
                {"bucket_ts": bs, "value": [fold[b][1] for b in bs],
                 "seq": [fold[b][0] for b in bs], "ts": [fold[b][2] for b in bs]},
                listed[(self.points_path, tier, day)], publish_first=True,
            )
        for tier_k, _, _ in cascade:
            for day in touched[tier_k]:
                out = rollups.get((tier_k, day))
                if out:
                    bs = sorted(out)
                    self._swap_partition(
                        self.rollups_path, tier_k, metric, day,
                        {"bucket_ts": bs, "value": [out[b][0] for b in bs],
                         "known": [out[b][1] for b in bs]},
                        listed[(self.rollups_path, tier_k, day)],
                        publish_first=False,
                    )
            if touched[tier_k]:
                self._mark_materialized(tier_k, [metric])
        return True

    def _swap_partition(
        self,
        root: str,
        tier: int,
        metric: str,
        day: int,
        cols: dict[str, list],
        old: list[str],
        publish_first: bool,
    ) -> None:
        """Replace one (tier, metric, date) partition's files ``old`` with
        one snappy parquet file of ``cols`` (``value`` double, the rest
        int64 — the types Spark writes and every reader expects)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.table({
            c: pa.array(v, pa.float64() if c == "value" else pa.int64())
            for c, v in cols.items()
        })
        sink = pa.BufferOutputStream()
        pq.write_table(table, sink, compression="snappy")
        self.fs.swap_file(
            sink.getvalue().to_pybytes(),
            f"{root}/tier={tier}/{self.layout.branch(metric)}/"
            f"date={_day_name(day)}/part-{uuid.uuid4().hex}.snappy.parquet",
            old,
            publish_first,
        )

    def ingest_df(
        self,
        metric: str,
        df: DataFrame,
        now: int | None = None,
        propagate: bool = True,
    ) -> None:
        """DataFrame ingest for one metric: columns (metric, ts, value, seq).

        The one-metric case of the micro-batch write (``_ingest_prepared``):
        validity filter + tier routing + aligned append, with the rollup
        cascade scoped to the touched buckets. Only rows whose ``metric``
        is ``metric`` are written; any other row is dropped, as the stream
        drops a metric the catalog does not know.
        """
        now = int(now if now is not None else time.time())
        by_sig = [(self.catalog.info(metric), [metric])]
        self._ingest_prepared(
            self.ingestor.prepare(df, by_sig, now), by_sig, now, propagate
        )

    def _ingest_prepared(
        self,
        prepared: DataFrame,
        by_sig: list[tuple[MetricInfo, list[str]]],
        now: int,
        propagate: bool,
    ) -> None:
        """The Spark write path: append a prepared batch and recompute the
        rollup partitions it dirties.

        ``prepared`` is ``prepare_batch_multi`` output over
        ``policy_dim(by_sig)`` (plus ``mb`` when bucketed): ``_sig``
        indexes ``by_sig``, one ``(MetricInfo, [metric, ...])`` entry per
        retention-policy signature. ONE collect fills the cache and
        returns the (min, max) ``bucket_ts`` of every (policy, metric,
        tier) the batch holds — at most metrics x tiers rows, never
        metrics x days: the metrics present and each cascade's spans.
        Then, under the writer lock, ONE catalog write (``touch_many``)
        and the points append running CONCURRENTLY with one multi-metric
        cascade per policy group: both are pure readers of the cache, and
        the LWW collapse makes any interleaving of their disk visibility
        idempotent. The job count does not grow with the metric count: a
        32-metric batch of one 3-tier policy (the ``tsdb`` benchmark's
        backfill, local[4]) runs 17 jobs — 4 for the collect's AQE
        stages, 2 for the append and 11 for the two cascade tiers.
        """
        prepared = prepared.cache()
        try:
            spans: dict[int, dict[tuple[str, int], tuple[int, int]]] = {}
            for r in (
                prepared.groupBy("_sig", "metric", "tier")
                .agg(F.min("bucket_ts").alias("lo"), F.max("bucket_ts").alias("hi"))
                .collect()
            ):
                spans.setdefault(r["_sig"], {})[(r["metric"], r["tier"])] = (
                    r["lo"], r["hi"],
                )
            if not spans:
                return
            with self._writer_lock():
                self.catalog.touch_many(
                    sorted({m for s in spans.values() for m, _ in s}), now
                )
                err: list[BaseException] = []

                def _append_points() -> None:
                    try:
                        self.ingestor.write(prepared.drop("_sig"))
                    except BaseException as e:  # surfaced after join below
                        err.append(e)

                # InheritableThread carries the caller's job group and
                # scheduler pool over to the append's jobs.
                writer = InheritableThread(target=_append_points)
                writer.start()
                try:
                    for sid, (info, _) in enumerate(by_sig):
                        if not propagate or sid not in spans or len(info.archives) <= 1:
                            continue
                        # The cascade's tier views take the batch from
                        # memory; a racing append's rows that a scan sees
                        # on disk collapse in LWW.
                        self.propagate_many(
                            sorted({m for m, _ in spans[sid]}),
                            batch=prepared.where(F.col("_sig") == sid),
                            spans=spans[sid],
                        )
                finally:
                    writer.join()
                if err:
                    raise err[0]
        finally:
            prepared.unpersist()

    # ------------------------------------------------------------- reading
    def _read_schema(self, base: T.StructType) -> T.StructType:
        if not self.metric_buckets:
            return base
        return T.StructType(
            list(base.fields) + [T.StructField("mb", T.IntegerType())]
        )

    def _read_points(self) -> DataFrame:
        return read_parquet_or_empty(
            self.spark, self.points_path, self._read_schema(_POINTS_READ_SCHEMA)
        )

    def _read_rollups(self) -> DataFrame:
        return read_parquet_or_empty(
            self.spark, self.rollups_path, self._read_schema(_ROLLUP_READ_SCHEMA)
        )

    @staticmethod
    def _date_pred(ts_range: tuple[int, int] | None):
        """Partition-pruning predicate on the physical ``date`` column.

        ``bucket_ts`` is a plain data column — a range filter on it reaches
        parquet row groups but can NOT prune ``date=`` directories. Every
        time-bounded read must carry this explicit date predicate, or a
        1-hour fetch over a 3-year metric lists and scans ~1100 partitions
        (verified: the fix turns those scans into 1-2 partition reads).
        """
        if ts_range is None:
            return None
        days = date_span(*ts_range)
        if not days:
            # to before from (an all-future fetch after the to-clamp):
            # the window holds no bucket
            return F.lit(False)
        return (F.col("date") >= F.lit(days[0])) & (
            F.col("date") <= F.lit(days[-1])
        )

    def tier_view(
        self,
        metric: str,
        tier: int,
        use_materialized: bool = True,
        ts_range: tuple[int, int] | None = None,
    ) -> DataFrame:
        """LWW-normalized view of one tier: (metric, bucket_ts, value) —
        the one-metric case of ``_tier_view_many``."""
        self.catalog.info(metric)  # an unknown metric raises, as in fetch
        return self._tier_view_many(
            [metric], tier, ts_range, use_materialized=use_materialized
        )

    # -------------------------------------------------------------- rollup
    def _direct_lww_many(
        self,
        metrics: list[str],
        tier: int,
        ts_range: tuple[int, int] | None = None,
        pending: DataFrame | None = None,
    ) -> DataFrame:
        """LWW view of one tier's direct points. ``pending`` is a
        ``Ingestor.prepare``d batch whose rows may not be on the points
        table yet — it is unioned in under the SAME predicates before the
        LWW collapse, so the rollup pass can consume the micro-batch from
        memory instead of re-reading the freshly appended small files
        (round 8). Safe whether or not those rows were already appended:
        a duplicate (metric, tier, bucket, seq) collapses in max_by."""
        cols = ["metric", "tier", "bucket_ts", "value", "seq"]
        pts = self._read_points().where(
            (F.col("tier") == tier) & self._metrics_pred(metrics)
        )
        dpred = self._date_pred(ts_range)
        if dpred is not None:
            pts = pts.where(dpred)
        if pending is not None:
            extra = pending.where(
                (F.col("tier") == tier) & self._metrics_pred(metrics)
            )
            if dpred is not None:
                extra = extra.where(dpred)
            pts = pts.select(*cols).unionByName(extra.select(*cols))
        return lww(pts).select("metric", "bucket_ts", "value")

    def _tier_view_many(
        self,
        metrics: list[str],
        tier: int,
        ts_range: tuple[int, int] | None = None,
        pending: DataFrame | None = None,
        use_materialized: bool = True,
    ) -> DataFrame:
        """LWW-normalized view of one tier for metrics SHARING one policy:
        (metric, bucket_ts, value).

        Tier 0 is the dedup view over raw appends. A coarser tier reads
        the materialized rollup in one scan for every metric that has one
        (none without ``use_materialized``); the others ("stragglers")
        get the cascade on the fly — ONE multi-metric recursion into the
        finer tier, rolled up and merged with this tier's direct points —
        so correctness never depends on maintenance having run and the
        plan does not grow with the straggler count. The cascade's spans
        and xff come from the first straggler: callers pass metrics of
        one policy (``_require_shared_policy`` checks it; export_tree
        groups by policy signature).

        ``ts_range`` (epoch-seconds, [lo, hi)) scopes every underlying scan
        to the touched ``date`` partitions; buckets are date-monotonic, so
        the cascade can pass the same bounds all the way down. ``pending``
        is unioned into every points read (see ``_direct_lww_many``).
        """
        if tier == 0:
            return self._direct_lww_many(metrics, 0, ts_range, pending)
        done = {
            m for m in metrics
            if use_materialized and self._is_materialized(tier, m)
        }
        stragglers = [m for m in metrics if m not in done]
        parts: list[DataFrame] = []
        if done:
            view = self._read_rollups().where(
                (F.col("tier") == tier) & self._metrics_pred(sorted(done))
            )
            dpred = self._date_pred(ts_range)
            if dpred is not None:
                view = view.where(dpred)
            parts.append(view.select("metric", "bucket_ts", "value"))
        if stragglers:
            info = self.catalog.info(stragglers[0])
            higher = info.archives[tier - 1]
            lower = info.archives[tier]
            cascade_range = ts_range
            if cascade_range is not None:
                # widen the lower bound to the lower-tier bucket start so
                # the finer tier contributes every row of the first
                # covered bucket
                lo_s, hi_s = cascade_range
                cascade_range = (align_ts(lo_s, lower.seconds_per_point), hi_s)
            rolled = rollup_tier(
                self._tier_view_many(
                    stragglers, tier - 1, cascade_range, pending,
                    use_materialized,
                ),
                lower.seconds_per_point,
                higher.seconds_per_point,
                info.x_files_factor,
            )
            direct = self._direct_lww_many(
                stragglers, tier, cascade_range, pending
            )
            parts.append(
                merge_direct(rolled, direct).select(
                    "metric", "bucket_ts", "value"
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def propagate(self, metric: str) -> None:
        """Rebuild one metric's rollup cascade (O6, src/hoard.coffee:71-178)."""
        self.propagate_many([metric])

    def propagate_many(
        self,
        metrics: list[str],
        batch: DataFrame | None = None,
        spans: dict[tuple[str, int], tuple[int, int]] | None = None,
    ) -> None:
        """See ``_propagate_many_impl``; serialized by the writer lock."""
        with self._writer_lock():
            self._propagate_many_impl(metrics, batch, spans)

    def _propagate_many_impl(
        self,
        metrics: list[str],
        batch: DataFrame | None = None,
        spans: dict[tuple[str, int], tuple[int, int]] | None = None,
    ) -> None:
        """Materialize the rollup cascade for metrics SHARING one policy,
        written with dynamic partition overwrite: a full rebuild, or the
        partitions one batch dirties.

        ``batch`` is a ``prepare``d batch of these metrics, and ``spans``
        maps each (metric, tier) it holds rows for to their (min, max)
        ``bucket_ts`` (the write core's one collect). Cascade tier k then
        recomputes exactly the (metric, date) partitions that the batch's
        rows at tiers <= k dirty — the generalized ``_.uniq``
        propagate-target dedup (src/hoard.coffee:373-378). The scans are
        pruned to the day-aligned span of those rows, and a ``left_semi``
        join against the batch keeps only the dirtied partitions, so the
        touched set stays in the plan and never passes through the
        driver. The batch is also unioned into every tier view before the
        LWW collapse: the recompute reads only pre-existing history from
        disk and takes the batch from memory, and rows already appended
        collapse in LWW.

        Scale contract: per cascade tier, one multi-metric recompute and
        one partitioned write, whatever the metric count. Never a
        per-metric driver loop (that was the round-1 scale-killer: a
        100k-metric micro-batch cost O(metrics x tiers) jobs).
        """
        # the cascade/xff come from metrics[0]; a caller mixing policies
        # would get rollups computed with the wrong tier spans, silently
        # persisted — validate up front like fetch_many does
        info = self._require_shared_policy(metrics, "propagate_many")
        if batch is not None and spans is None:
            raise HoardError("propagate_many: a batch needs its spans")
        for tier_k, higher_spp, lower_spp in plan_cascade(info):
            ts_range: tuple[int, int] | None = None
            marked = metrics
            if batch is not None:
                below = {k: s for k, s in spans.items() if k[1] <= tier_k}
                if not below:
                    continue
                marked = sorted({m for m, _ in below})
                # every dirtied partition is recomputed over its FULL day,
                # from a lower-bucket boundary so the first covered bucket
                # sees all its higher-tier rows (alignment and date are
                # monotone, so the span's ends bound every dirtied date)
                lo = align_ts(min(s[0] for s in below.values()), lower_spp)
                hi = align_ts(max(s[1] for s in below.values()), lower_spp)
                ts_range = (
                    align_ts(lo - lo % DAY, lower_spp),
                    hi - hi % DAY + DAY + lower_spp,
                )

            # ts_range prunes the scans to the touched date partitions (a
            # one-day micro-batch must not list 3 years of directories)
            higher_view = self._tier_view_many(
                metrics, tier_k - 1, ts_range, pending=batch
            )
            if ts_range is not None:
                higher_view = higher_view.where(
                    (F.col("bucket_ts") >= ts_range[0])
                    & (F.col("bucket_ts") < ts_range[1])
                )

            rolled = rollup_tier(
                higher_view, lower_spp, higher_spp, info.x_files_factor
            )
            merged = merge_direct(
                rolled,
                self._direct_lww_many(metrics, tier_k, ts_range, pending=batch),
            )
            out = (
                merged.withColumn("tier", F.lit(tier_k))
                .withColumn("date", bucket_date_col(F.col("bucket_ts")))
            )
            if batch is not None:
                dirtied = batch.where(F.col("tier") <= tier_k).select(
                    "metric",
                    *(["mb"] if self.metric_buckets else []),
                    bucket_date_col(
                        F.col("bucket_ts")
                        - F.pmod(F.col("bucket_ts"), F.lit(lower_spp))
                    ).alias("date"),
                )
                out = out.join(
                    dirtied.select("metric", "date"), ["metric", "date"], "left_semi"
                )
            out = self.layout.with_mb(
                out.select("bucket_ts", "value", "known", "tier", "metric", "date")
            )
            if self.metric_buckets:
                # An (mb, date) partition holds MANY metrics; dynamic
                # overwrite replaces whole partitions, so rows of metrics
                # NOT being recomputed must ride along unchanged. Tuple-
                # equality joins, NOT string-concat keys: a metric name
                # containing a separator must never collide with another
                # (metric, date) pair and drop a co-bucketed metric's rows.
                existing = self._read_rollups().where(F.col("tier") == tier_k)
                if batch is not None:
                    keep = existing.join(
                        dirtied.select("mb", "date"), ["mb", "date"], "left_semi"
                    ).join(
                        dirtied.select("metric", "date"),
                        ["metric", "date"],
                        "left_anti",
                    )
                else:
                    overwritten = out.select("mb", "date").distinct()
                    keep = (
                        existing.where(~F.col("metric").isin(metrics))
                        .join(F.broadcast(overwritten), ["mb", "date"],
                              "left_semi")
                    )
                out = out.unionByName(keep.select(*out.columns))
            (
                # one file per replaced dir: the rollup dirs are driver-route
                # read targets. Dynamic overwrite is set ON THE WRITER:
                # correctness must not depend on the session's
                # partitionOverwriteMode (a static-mode session would
                # truncate every other partition of the shared root).
                self.layout.writer(out)
                .option("partitionOverwriteMode", "dynamic")
                .mode("overwrite")
                .parquet(self.rollups_path)
            )
            self._mark_materialized(tier_k, marked)

    # --------------------------------------------------------------- fetch
    def fetch(
        self, metric: str, from_ts: int, to_ts: int, now: int | None = None
    ) -> tuple[TimeInfo, list[float | None]]:
        """Range query (O7): ``(timeInfo, values)`` exactly as the reference
        — the one-metric case of ``fetch_many``: the same driver route
        (``_fetch_fast_values``) and the same Spark fallback."""
        ti, series = self.fetch_many([metric], from_ts, to_ts, now)
        return ti, series[metric]

    def _date_span_ok(self, n_days: int) -> bool:
        """The driver routes budget dir LISTINGS as well as files: each
        date dir is one filesystem round trip (an RPC on S3/HDFS), so a
        years-wide window over a sparse metric must not walk ~1100 dirs
        just to discover it should fall back — even though its few files
        might technically fit the file budget, Spark's listing is
        parallel and the driver's is not."""
        return n_days <= max(2 * self.fetch_driver_max_files, 8)

    def _fetch_fast_values(
        self, metric: str, tier: int, ti: TimeInfo
    ) -> list[float | None] | None:
        """Driver-side fetch over the pruned partition files, or None to
        fall back to the Spark plan. Reads the SAME physical table the
        Spark path would scan (tier-0 points with Python LWW max-by-seq,
        or the materialized rollup), so the result is identical by
        construction; an on-the-fly cascade (tier>0, not materialized)
        always falls back."""
        if self.fetch_driver_max_files <= 0:
            return None
        if tier > 0 and not self._is_materialized(tier, metric):
            return None
        if not self.metric_buckets and not SAFE_PART_RE.match(metric):
            # Spark escapes special chars in partition-dir values; rather
            # than reimplement that encoding, route such names to Spark
            # (the bucketed layout's dirs are mb=N, and the metric is a
            # data column read_lww filters, so any name reads here)
            return None
        root = self.points_path if tier == 0 else self.rollups_path
        # the same date partitions _date_pred prunes the Spark scan to
        days = date_span(ti.from_interval, ti.to_interval)
        if not self._date_span_ok(len(days)):
            return None
        dates = [d.isoformat() for d in days]
        # ONE listing round-trip for the whole window on remote stores
        # (globStatus date alternation); per-present-date scandir locally.
        files = self.fs.list_date_files(
            f"{root}/tier={tier}/{self.layout.branch(metric)}", dates
        )
        if len(files) > self.fetch_driver_max_files:
            return None
        if not files:
            # No files resolved. Either the window is genuinely empty (a
            # cheap pruned Spark scan confirms) or a listing misresolution
            # (URI-form path, permission/transient FS error masked as
            # "not found") would otherwise become a SILENT all-None
            # answer for data that exists. Fall back to the Spark plan —
            # it is the ground truth either way.
            return None

        return read_values(files, self._open_file, metric, ti)

    def _open_file(self, path: str):
        return io.BytesIO(self.fs.read_bytes(path))

    def fetch_dataframe(
        self, metric: str, from_ts: int, to_ts: int, now: int | None = None
    ) -> tuple[TimeInfo, DataFrame]:
        """Distributed fetch: the gap-filled ``(bucket_ts, value)`` result
        as an unactioned plan — ``fetch_many_dataframe`` of one metric."""
        ti, df = self.fetch_many_dataframe([metric], from_ts, to_ts, now)
        return ti, df.select("bucket_ts", "value")

    def fetch_many(
        self,
        metrics: list[str],
        from_ts: int,
        to_ts: int,
        now: int | None = None,
    ) -> tuple[TimeInfo, dict[str, list[float | None]]]:
        """Scalar dashboard fetch: ``(timeInfo, {metric: values})``.

        Small windows answer driver-side per series (the
        ``_fetch_fast_values`` short-circuit; ~ms per series, a 20-series
        dashboard stays well under one Spark job's floor — co-bucketed
        series re-read shared files, acceptable at these sizes). If ANY
        series exceeds the file budget or needs an on-the-fly cascade, the
        whole request falls back to the Spark read: ``fetch_df`` over one
        pruned multi-metric tier view, collected by ``collect_values``.
        """
        now = int(now if now is not None else time.time())
        info = self._require_shared_policy(metrics, "fetch_many")
        archive, ti = plan_fetch(info, int(from_ts), int(to_ts), now)
        fast: dict[str, list[float | None]] | None = {}
        for m in metrics:
            v = self._fetch_fast_values(m, archive.tier, ti)
            if v is None:
                fast = None
                break
            fast[m] = v
        if fast is not None:
            return ti, fast
        df = self._gap_filled(metrics, archive.tier, ti)
        return ti, collect_values(df, ti, metrics)

    def fetch_many_dataframe(
        self,
        metrics: list[str],
        from_ts: int,
        to_ts: int,
        now: int | None = None,
    ) -> tuple[TimeInfo, DataFrame]:
        """Multi-series fetch: (metric, bucket_ts, value), gap-filled, ONE
        pruned scan for all metrics sharing a policy (the dashboard shape —
        N series must not cost N driver round-trips).

        All metrics must share the policy signature so a single tier
        answers; an unmaterialized tier is one on-the-fly cascade for all
        of them (``_tier_view_many``).
        """
        now = int(now if now is not None else time.time())
        info = self._require_shared_policy(metrics, "fetch_many")
        archive, ti = plan_fetch(info, int(from_ts), int(to_ts), now)
        return ti, self._gap_filled(metrics, archive.tier, ti)

    def _gap_filled(
        self, metrics: list[str], tier: int, ti: TimeInfo
    ) -> DataFrame:
        """The Spark read: ``fetch_df`` over the tier view scoped to the
        window's date partitions (a 1-hour fetch over a 3-year metric
        reads 1-2 partitions, not ~1100)."""
        view = self._tier_view_many(
            metrics, tier, (ti.from_interval, ti.to_interval)
        )
        return fetch_df(view, ti, metrics)

    def _require_shared_policy(
        self, metrics: list[str], op: str
    ) -> MetricInfo:
        """Verify every metric shares one policy signature; return its info."""
        if not metrics:
            raise HoardError(f"{op} requires at least one metric")
        first = None
        for m in metrics:
            info = self.catalog.info(m)
            if first is None:
                first = info
            elif info.policy != first.policy:
                raise HoardError(
                    f"{op} requires metrics sharing one retention policy; "
                    f"{metrics[0]!r} and {m!r} differ"
                )
        return first

    # ---------------------------------------------------------------- SQL
    def register_sql_views(self, prefix: str = "hoard") -> None:
        """Expose the warehouse to Spark SQL (new surface — the reference
        has no query language, SURVEY.md §2B):

        - ``<prefix>_points``   raw appends (pre-LWW, every write visible)
        - ``<prefix>_series``   LWW-normalized per (metric, tier, bucket)
        - ``<prefix>_rollups``  materialized downsamples
        - ``<prefix>_catalog``  one row per metric policy

        All are lazy views over the partitioned parquet roots, so SQL
        predicates on tier/metric/date prune partitions exactly like the
        DataFrame paths.
        """
        self._read_points().createOrReplaceTempView(f"{prefix}_points")
        lww(self._read_points()).select(
            "metric", "tier", "bucket_ts", "value"
        ).createOrReplaceTempView(f"{prefix}_series")
        self._read_rollups().createOrReplaceTempView(f"{prefix}_rollups")
        policies = [
            (
                m.metric,
                m.x_files_factor,
                m.max_retention,
                [(a.tier, a.seconds_per_point, a.points) for a in m.archives],
            )
            for m in self.catalog._metrics.values()
        ]
        self.spark.createDataFrame(
            policies,
            "metric string, x_files_factor double, max_retention long, "
            "archives array<struct<tier:int,seconds_per_point:int,points:int>>",
        ).createOrReplaceTempView(f"{prefix}_catalog")

    def sql(self, query: str) -> DataFrame:
        """Run Spark SQL against the registered warehouse views."""
        self.register_sql_views()
        return self.spark.sql(query)

    # --------------------------------------------------------- maintenance
    def partition_file_counts(
        self, metric: str, tier: int = 0
    ) -> dict[str, int]:
        """Parquet file count per date partition of one metric's points —
        the compaction cadence signal: a dir above
        ``fetch_driver_max_files`` pushes small fetches off the driver
        short-circuit and onto a full Spark job, so "any dir > budget"
        means it is time for ``compact(metric)`` (which rewrites each
        partition to exactly one file). One listStatus per date dir,
        scoped to the metric's (tier, metric|mb) branch."""
        root = f"{self.points_path}/tier={tier}/{self.layout.branch(metric)}"
        out: dict[str, int] = {}
        for d in self.fs.listdir(root):
            if not d.startswith("date="):
                continue
            out[d[len("date="):]] = sum(
                map(is_data_file, self.fs.listdir(f"{root}/{d}"))
            )
        return out

    def compact(self, metric: str | None = None) -> None:
        """Fold LWW physically: rewrite each tier's points with one row per
        bucket (keeps max seq so later appends still win correctly).

        The Spark analog of the ring buffer's implicit in-place dedup; run
        periodically so read-side dedup cost stays bounded.
        """
        with self._writer_lock():
            self._compact_impl(metric)

    def _compact_impl(self, metric: str | None = None) -> None:
        pts = self._read_points()
        if metric is not None:
            if self.metric_buckets:
                # bucketed layout: the swap granularity is the hash bucket,
                # so compact every metric sharing this metric's bucket
                pts = pts.where(F.col("mb") == self.layout.mb_of(metric))
            else:
                pts = pts.where(F.col("metric") == metric)
        folded = (
            pts.groupBy("metric", "tier", "bucket_ts")
            .agg(
                F.max_by("value", "seq").alias("value"),
                F.max("seq").alias("seq"),
                F.max("ts").alias("ts"),
            )
            .withColumn("date", bucket_date_col(F.col("bucket_ts")))
            .select("bucket_ts", "value", "seq", "ts", "tier", "metric", "date")
        )
        tmp = self.points_path + "_compacting"
        # after the LWW groupBy a partition's rows are scattered across
        # tasks; the clustered writer leaves exactly ONE file per dir,
        # the point of compaction (the driver routes' file budget)
        self.layout.writer(self.layout.with_mb(folded)).mode("overwrite").parquet(tmp)
        if metric is None:
            self.fs.rename(tmp, self.points_path)
        else:
            # swap only the rewritten partitions
            sub = self.layout.branch(metric)
            for tier_dir in self.fs.listdir(tmp):
                if not tier_dir.startswith("tier="):
                    continue
                src = os.path.join(tmp, tier_dir, sub)
                dst = os.path.join(self.points_path, tier_dir, sub)
                if self.fs.isdir(src):
                    self.fs.rename(src, dst)
            self.fs.rmtree(tmp)

    def drop(self, metric: str) -> None:
        """Remove a metric end-to-end: point/rollup data, catalog entry,
        materialized markers (the write sequence is warehouse-wide and
        never rewinds). Lifecycle admin the reference
        delegates to the filesystem (delete the .hoard file); here it
        must also be partition-layout-aware.

        Unbucketed layout: O(tiers) directory deletes, no data rewrite —
        the (tier, metric, date) scheme makes a metric a directory
        family, so drop runs at metadata speed at any data size.
        Bucketed layout: the swap granularity is the hash bucket, so the
        metric's bucket is rewritten without its rows and swapped in
        (the same ride-along-partition shape as compact(metric)); a
        bucket left empty is deleted outright.
        """
        with self._writer_lock():
            self._drop_impl(metric)

    def _drop_impl(self, metric: str) -> None:
        self.catalog.info(metric)  # raises HoardError on unknown metric
        sub = self.layout.branch(metric)
        for root, reader in (
            (self.points_path, self._read_points),
            (self.rollups_path, self._read_rollups),
        ):
            if not self.fs.isdir(root):
                continue
            tmp = root + "_dropping"
            if self.metric_buckets:
                keep = reader().where(
                    (F.col("mb") == self.layout.mb_of(metric))
                    & (F.col("metric") != metric)
                )
                self.layout.writer(keep).mode("overwrite").parquet(tmp)
            for tier_dir in self.fs.listdir(root):
                if not tier_dir.startswith("tier="):
                    continue
                dst = os.path.join(root, tier_dir, sub)
                src = os.path.join(tmp, tier_dir, sub)
                if self.metric_buckets and self.fs.isdir(src):
                    self.fs.rename(src, dst)
                elif self.fs.isdir(dst):
                    # the metric's dir, or a bucket that held only it
                    self.fs.rmtree(dst)
            if self.metric_buckets and self.fs.isdir(tmp):
                self.fs.rmtree(tmp)
        self.catalog.drop(metric)
        stale = {
            k for k in self._materialized if k.split(":", 1)[1] == metric
        }
        if stale:
            self._materialized -= stale
            save_json(self._mat_path, sorted(self._materialized))

    def drop_expired(self, metric: str, now: int | None = None) -> list[str]:
        """Retention enforcement: delete (tier, metric, date) partitions whose
        whole day lies past the tier's retention — the ring buffer's eviction
        (src/hoard.coffee:217-222) as a partition drop, no data rewrite.
        """
        with self._writer_lock():
            return self._drop_expired_impl(metric, now)

    def _drop_expired_impl(
        self, metric: str, now: int | None = None
    ) -> list[str]:
        now = int(now if now is not None else time.time())
        info = self.catalog.info(metric)
        dropped: list[str] = []
        for root in (self.points_path, self.rollups_path):
            if not self.fs.isdir(root):
                continue
            for a in info.archives:
                if self.metric_buckets:
                    # bucketed layout: an (mb, date) dir holds many metrics,
                    # so a dir is only safely dead once the day is past the
                    # LONGEST retention any catalog metric has at this tier;
                    # read-side retention filtering covers the remainder.
                    cutoff = now - max(
                        mi.archives[a.tier].retention
                        for mi in self.catalog._metrics.values()
                        if len(mi.archives) > a.tier
                    )
                    tier_dirs = [
                        os.path.join(root, f"tier={a.tier}", mb_dir)
                        for mb_dir in self.fs.listdir(
                            os.path.join(root, f"tier={a.tier}")
                        )
                        if mb_dir.startswith("mb=")
                    ]
                else:
                    cutoff = now - a.retention
                    tier_dirs = [
                        os.path.join(
                            root, f"tier={a.tier}", self.layout.branch(metric)
                        )
                    ]
                for tier_dir in tier_dirs:
                    for d in self.fs.listdir(tier_dir):
                        if not d.startswith("date="):
                            continue
                        day_end = _day_start(d.split("=", 1)[1]) + 86400
                        if day_end <= cutoff:
                            self.fs.rmtree(os.path.join(tier_dir, d))
                            dropped.append(os.path.join(tier_dir, d))
        return dropped
