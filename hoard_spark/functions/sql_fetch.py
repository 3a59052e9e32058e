"""SQL-callable range fetch — ``SELECT * FROM hoard_fetch(...)``.

Closes the last declared-optional surface gap (SURVEY §4; VERDICT r9
item 4): a SQL-only user can range-fetch a metric without touching the
Python API. Reference analog: fetch, src/hoard.coffee:426-513.

Shape: a Python UDTF (the declared table-function escape hatch,
``hoard_spark/functions/udtf.py``) whose ``eval`` runs a **JVM-free
fetch** — catalog JSON + the same ``plan_fetch`` tier routing the
engine uses + pyarrow reads of the pruned ``(tier, metric|mb, date)``
partition files (``fetch.date_span``) + Python LWW + the gap-fill spine
(``fetch.read_values``). This is the twin of the driver route that the
engine's ``fetch`` and ``fetch_many`` share
(``HoardEngine._fetch_fast_values``), name rule included: a metric name
Spark escapes is readable only in the bucketed layout, whose dirs are
``mb=N``. A fetch answers a dashboard-sized window (``ti`` buckets,
bounded by the archive's ``points``), so the data volume is
UDTF-appropriate by construction — the 100 TB story is the partition
pruning (tier + metric + date dirs), exactly the same pruning the Spark
plan gets, done with one directory listing per date.

Value contract: identical to ``HoardEngine.fetch`` (property-pinned in
tests/test_sql_fetch.py against goldens G2/G4 and randomized corpora)
for tier-0 fetches and materialized rollups. An UNMATERIALIZED coarse
tier needs the on-the-fly cascade only a Spark plan provides — the UDTF
raises a clear error directing the user to ``propagate()`` (the engine
API falls back to the Spark plan instead; a SQL-only caller should not
silently trigger a cluster-sized recompute from a table function).

DATA-PLANE IO (tier-root checks, date-dir listings, sidecar JSONs,
parquet reads) goes through ``pyarrow.fs`` resolved from the warehouse
URI (VERDICT r10 stretch 9) — plain paths and ``file:`` URIs get the
LocalFileSystem, any other scheme whatever ``FileSystem.from_uri``
supports — so the fetch itself is object-store-ready. The CONTROL
plane (the catalog JSON, read through ``Catalog``) keeps the engine's
driver-local contract: a fully remote warehouse still needs its catalog
on a local/shared mount, the same declared limitation the engine has.
"""

from __future__ import annotations

import json
import os
import time

from hoard_spark.catalog import Catalog, HoardError
from hoard_spark.fetch import TimeInfo, date_span, plan_fetch, read_values
from hoard_spark.fsutil import SAFE_PART_RE, is_data_file, strip_local_uri
from hoard_spark.layout import Layout


def _resolve_fs(warehouse_dir: str):
    """(pyarrow filesystem, scheme-free root path) for the warehouse."""
    from pyarrow import fs as pafs

    local = strip_local_uri(warehouse_dir)
    if local is not None:
        return pafs.LocalFileSystem(), os.path.abspath(local)
    return pafs.FileSystem.from_uri(warehouse_dir)


def _fs_isdir(fs, path: str) -> bool:
    from pyarrow import fs as pafs

    return fs.get_file_info(path).type == pafs.FileType.Directory


def _fs_exists(fs, path: str) -> bool:
    from pyarrow import fs as pafs

    return fs.get_file_info(path).type != pafs.FileType.NotFound


def _fs_read_json(fs, path: str):
    with fs.open_input_stream(path) as f:
        return json.loads(f.read().decode("utf-8"))


def _list_date_files(fs, base: str, dates: list[str]) -> list[str]:
    from pyarrow import fs as pafs

    files: list[str] = []
    for d in dates:
        sel = pafs.FileSelector(f"{base}/date={d}", allow_not_found=True)
        for info in fs.get_file_info(sel):
            if info.type == pafs.FileType.File and is_data_file(
                info.base_name
            ):
                files.append(info.path)
    return files


def python_fetch(
    warehouse_dir: str,
    metric: str,
    from_ts: int,
    to_ts: int,
    now: int | None = None,
) -> tuple[TimeInfo, list[float | None]]:
    """JVM-free fetch over a hoard warehouse; see module docstring."""
    now = int(now if now is not None else time.time())
    ctl = strip_local_uri(warehouse_dir) or warehouse_dir
    info = Catalog(ctl).info(metric)
    archive, ti = plan_fetch(info, int(from_ts), int(to_ts), now)
    tier = archive.tier
    fs, fsroot = _resolve_fs(warehouse_dir)

    layout_path = f"{fsroot}/_hoard_layout.json"
    metric_buckets = None
    if _fs_exists(fs, layout_path):
        metric_buckets = _fs_read_json(fs, layout_path).get(
            "metric_buckets"
        )
    layout = Layout(metric_buckets)

    if tier > 0:
        materialized = False
        mat_path = f"{fsroot}/_hoard_materialized.json"
        if _fs_exists(fs, mat_path):
            materialized = f"{tier}:{metric}" in set(
                _fs_read_json(fs, mat_path)
            )
        if not materialized and not metric_buckets:
            # legacy unbucketed warehouses predate the marker file
            materialized = _fs_isdir(
                fs, f"{fsroot}/rollups/tier={tier}/{layout.branch(metric)}"
            )
        if not materialized:
            raise HoardError(
                f"hoard_fetch: tier {tier} of '{metric}' is not "
                "materialized — run propagate() (or fetch through the "
                "engine API, which computes the cascade as a Spark plan)"
            )

    if not SAFE_PART_RE.match(metric) and not metric_buckets:
        raise HoardError(
            f"hoard_fetch: metric name {metric!r} needs Spark's partition "
            "escaping — fetch it through the engine API"
        )

    root = f"{fsroot}/" + ("points" if tier == 0 else "rollups")
    dates = [d.isoformat() for d in date_span(ti.from_interval, ti.to_interval)]
    files = _list_date_files(fs, f"{root}/tier={tier}/{layout.branch(metric)}", dates)

    if not files and info.last_update > 0:
        # Backstop (ADVICE r10): the engine's fast path falls back to the
        # Spark plan on an empty listing precisely because a listing
        # misresolution (URI-form path on a remote warehouse, permission
        # error surfacing as "not found") would otherwise be masked as a
        # silent all-NULL answer. The UDTF has no Spark plan to fall back
        # to, so distinguish the two cases structurally: the catalog says
        # this metric HAS been written (lastUpdate > 0), and any write
        # creates the tier store root — if that root itself is absent,
        # the path is misresolving and the fetch must fail loudly, not
        # return an all-NULL spine. A present root with no files for the
        # window's dates is a genuinely empty window (NULLs are correct).
        tier_root = f"{root}/tier={tier}"
        if not _fs_isdir(fs, tier_root):
            raise HoardError(
                f"hoard_fetch: metric '{metric}' has writes (lastUpdate="
                f"{info.last_update}) but the tier store directory "
                f"{tier_root!r} is absent — the warehouse path is not "
                "resolving as a local directory (URI-form or non-POSIX "
                "warehouse?); fetch through the engine API, which routes "
                "through the Spark plan"
            )

    return ti, read_values(files, fs.open_input_file, metric, ti)


def make_hoard_fetch(warehouse_dir: str):
    """Build the UDTF class bound to one warehouse (a plain string — the
    closure ships to Python workers via cloudpickle)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="bucket_ts long, value double")
    class HoardFetch:
        """``hoard_fetch(metric, from_ts, to_ts[, now])`` — one row per
        bucket in [from_interval, to_interval), NULL value for gaps (the
        gap-fill spine as rows; the reference API's values vector is
        this table ordered by bucket_ts)."""

        def eval(
            self,
            metric: str,
            from_ts: int,
            to_ts: int,
            now: int | None = None,
        ):
            ti, values = python_fetch(
                warehouse_dir, metric, from_ts, to_ts, now
            )
            t = ti.from_interval
            for v in values:
                yield t, (None if v is None else float(v))
                t += ti.step

    return HoardFetch


def register_sql_fetch(spark, warehouse_dir: str, name: str = "hoard_fetch"):
    """Register ``hoard_fetch`` on this session::

        register_sql_fetch(spark, engine.warehouse_dir)
        spark.sql("SELECT * FROM hoard_fetch('cpu', 1311277105, "
                  "1311295105, 1311300000)")
    """
    spark.udtf.register(name, make_hoard_fetch(warehouse_dir))
