"""Range fetch — tier routing + bucket filter + spine gap-fill (reference O7).

Reference semantics reproduced (src/hoard.coffee:426-513):

- Clamp ``from`` to ``now - maxRetention`` (:429-430); error unless
  ``from < to`` (:431); clamp ``to`` to ``now`` (:432).
- Route to the *first* (highest-precision) archive with
  ``retention >= now - from`` (:437-438) — one tier answers the whole query;
  resolutions are never mixed.
- Result covers buckets ``[align(from) + spp, align(to) + spp)`` — strictly
  after ``from``'s bucket, inclusive of ``to``'s bucket (:440-441).
- One slot per bucket; ``null`` where no point exists (:450-456, 504-509).
- Returns ``(timeInfo = (fromInterval, toInterval, step), values)`` (:511).

Spark design: the routing decision is driver-side planning (the
materialized-view-routing choice, SURVEY.md §4); the data path is a single
partition-pruned Parquet scan filtered on ``bucket_ts`` range, left-joined
against a generated bucket spine for gap-fill. The Spark read is
multi-metric throughout: ``fetch_df`` gap-fills every requested series of
one tier view in one plan and ``collect_values`` lays the collected rows
out as ``{metric: values}``; a single-metric fetch is the one-metric case.
``read_lww``/``read_values`` are the driver-side twin (no Spark job) over
the same pruned partition files, and ``date_span`` names the ``date=``
partitions both sides prune to.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass
from datetime import date, datetime, timedelta, timezone
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hoard_spark.catalog import ArchiveInfo, HoardError, MetricInfo
from hoard_spark.functions import align_ts, spine


@dataclass(frozen=True)
class TimeInfo:
    from_interval: int
    to_interval: int
    step: int

    def __iter__(self):
        return iter((self.from_interval, self.to_interval, self.step))


def plan_fetch(
    info: MetricInfo, from_ts: int, to_ts: int, now: int
) -> tuple[ArchiveInfo, TimeInfo]:
    """Clamp the range and pick the answering tier (driver-side planning)."""
    oldest = now - info.max_retention
    if from_ts < oldest:
        from_ts = oldest  # clamp (src/hoard.coffee:429-430)
    if from_ts >= to_ts:
        raise HoardError("invalid time interval: from must be before to")
    if to_ts > now:
        to_ts = now  # clamp (src/hoard.coffee:432)

    diff = now - from_ts
    archive = info.archive_for_age(diff)
    if archive is None:  # unreachable after the clamp, kept for parity
        raise HoardError("no archive covers the requested range")

    spp = archive.seconds_per_point
    from_interval = align_ts(from_ts, spp) + spp
    to_interval = align_ts(to_ts, spp) + spp
    return archive, TimeInfo(from_interval, to_interval, spp)


def date_span(lo_s: int, hi_s: int) -> list[date]:
    """UTC dates ``date(lo_s)..date(hi_s)``, both ends inclusive: the
    ``date=`` partitions a fetch window's buckets can live in."""
    lo = datetime.fromtimestamp(int(lo_s), tz=timezone.utc).date()
    hi = datetime.fromtimestamp(int(hi_s), tz=timezone.utc).date()
    return [lo + timedelta(days=i) for i in range((hi - lo).days + 1)]


def _n_slots(ti: TimeInfo) -> int:
    return max(0, (ti.to_interval - ti.from_interval) // ti.step)


def fetch_df(
    tier_view: DataFrame, ti: TimeInfo, metrics: list[str]
) -> DataFrame:
    """Gap-filled result: ``(metric, bucket_ts, value)``, one row per
    metric and bucket in [from_interval, to_interval), ordered by
    ``metric, bucket_ts``.

    ``tier_view`` must have columns ``metric, bucket_ts, value`` with one row
    per (metric, bucket) (LWW-normalized). The bucket_ts range predicate is
    pushed into the Parquet scan (row-group min/max; the caller's view
    carries the date partition predicate); the spine is the bucket sequence
    with the metric list exploded onto every bucket.
    """
    sp = spine(tier_view.sparkSession, ti.from_interval, ti.to_interval, ti.step)
    # a literal array, not createDataFrame: a Python-list DataFrame is an
    # RDD, and broadcasting it costs one more Spark job per fetch
    names = F.array(*[F.lit(m) for m in metrics])
    data = tier_view.where(
        (F.col("bucket_ts") >= ti.from_interval) & (F.col("bucket_ts") < ti.to_interval)
    )
    # Both sides are bounded by the output row count after the range
    # filter; broadcast the data side so the gap-fill join never shuffles
    # (Spark can't build the left side of a LEFT join, so the hint goes on
    # the probe data, not the spine).
    return (
        sp.select(F.explode(names).alias("metric"), "bucket_ts")
        .join(F.broadcast(data), ["metric", "bucket_ts"], "left")
        .orderBy("metric", "bucket_ts")
    )


def collect_values(
    result: DataFrame, ti: TimeInfo, metrics: list[str]
) -> dict[str, list[float | None]]:
    """Driver-side ``{metric: values}``, each vector in bucket order (the
    reference API shape)."""
    n = _n_slots(ti)
    out: dict[str, list[float | None]] = {m: [None] * n for m in metrics}
    for row in result.collect():
        idx = (row["bucket_ts"] - ti.from_interval) // ti.step
        if 0 <= idx < n:
            out[row["metric"]][idx] = row["value"]
    return out


def read_lww(
    files: list[str],
    open_file: Callable[[str], Any],
    metric: str,
    ts_range: tuple[int, int] | None = None,
    fold_ts: bool = False,
    rows: Sequence[tuple[int, float, int, int]] = (),
) -> dict[int, list]:
    """Driver-side read of one series from partition parquet files, LWW
    collapsed: ``{bucket_ts: [seq, value]}`` (``[seq, value, ts]`` with
    ``fold_ts``, ``ts`` the max over the bucket's rows, as compact()
    folds it). ``open_file`` maps a path to what ``pyarrow`` reads;
    ``rows`` (``(bucket_ts, value, seq, ts)``) are folded in after the
    files, as if read from one more file.

    The max ``seq`` wins a bucket. Rollup files carry no ``seq`` and
    hold one row per bucket; there the first file read wins. A
    ``metric`` data column (the bucketed layout) is filtered row-wise;
    ``ts_range`` keeps buckets in ``[lo, hi)``."""
    import pyarrow.parquet as pq

    def columns():
        for path in files:
            pf = pq.ParquetFile(open_file(path))
            phys = set(pf.schema_arrow.names)
            want = [c for c in ("metric", "bucket_ts", "value", "seq", "ts")
                    if c in phys and (c != "ts" or fold_ts)]
            tbl = pf.read(columns=want)
            yield (
                tbl["bucket_ts"].to_pylist(),
                tbl["value"].to_pylist(),
                tbl["metric"].to_pylist() if "metric" in phys else None,
                tbl["seq"].to_pylist() if "seq" in phys else None,
                tbl["ts"].to_pylist() if fold_ts else None,
            )
        if rows:
            bt, vv, sq, tt = map(list, zip(*rows))
            yield bt, vv, None, sq, tt

    best: dict[int, list] = {}
    for bt, vv, mm, sq, tt in columns():
        for i, b in enumerate(bt):
            if mm is not None and mm[i] != metric:
                continue
            if ts_range is not None and not ts_range[0] <= b < ts_range[1]:
                continue
            s = sq[i] if sq is not None else 0
            cur = best.get(b)
            if cur is None:
                best[b] = [s, vv[i], tt[i]] if fold_ts else [s, vv[i]]
                continue
            if s > cur[0]:
                cur[0], cur[1] = s, vv[i]
            if fold_ts and tt[i] > cur[2]:
                cur[2] = tt[i]
    return best


def read_values(
    files: list[str], open_file: Callable[[str], Any], metric: str, ti: TimeInfo
) -> list[float | None]:
    """The driver-side fetch: ``read_lww`` over the window's partition
    files, laid out as the gap-filled values vector."""
    best = read_lww(files, open_file, metric, (ti.from_interval, ti.to_interval))
    values: list[float | None] = [None] * _n_slots(ti)
    for b, row in best.items():
        values[(b - ti.from_interval) // ti.step] = row[1]
    return values
