"""Retention-policy catalog — the Spark-native analog of the Whisper file
header.

Reference semantics reproduced here (citations into /root/reference):
- ``create`` sorts archives by precision and computes
  ``maxRetention = max(spp * points)`` (src/hoard.coffee:30-69).
- Archive invariants checked at create time mirror Python Whisper's
  ``validateArchiveList`` intent: at least one archive, unique resolutions,
  each coarser tier's ``seconds_per_point`` an exact multiple of the finer
  tier's (required for clean rollup windows), and each lower tier able to
  hold at least one higher-tier rollup window.
- ``info`` returns header metadata + per-archive derived fields
  ``retention = spp * points`` and ``size = points * POINT_SIZE``
  (src/hoard.coffee:392-424).
- The reference's create() hard-codes xFilesFactor=0.5 on disk regardless of
  the argument ("Dirty hack", src/hoard.coffee:40-46). That is a documented
  bug (SURVEY.md §5.3); we store the argument, per intended Whisper
  semantics.

The catalog is tiny driver-side metadata (one row per metric per tier), so it
lives in a single JSON file under the warehouse — the moral equivalent of a
metastore entry. Nothing here is a Spark job.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

# 12 bytes/point in the reference format (u32 ts + f64 value,
# src/hoard.coffee:21-22). Kept only for info() parity reporting.
POINT_SIZE = 12
METADATA_SIZE = 16
ARCHIVE_INFO_SIZE = 12


class HoardError(Exception):
    """Engine-level error (mirrors the reference's callback errors)."""


def save_json(path: str, obj) -> None:
    """Write one control-plane JSON file atomically: a failure mid-write
    leaves the previous file (or none), never a truncated one."""
    tmp = path + ".tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


@dataclass(frozen=True)
class ArchiveInfo:
    """One retention tier. ``tier`` 0 is the highest resolution."""

    tier: int
    seconds_per_point: int
    points: int

    @property
    def retention(self) -> int:
        return self.seconds_per_point * self.points

    @property
    def size(self) -> int:
        return self.points * POINT_SIZE

    def to_dict(self) -> dict:
        return {
            "tier": self.tier,
            "secondsPerPoint": self.seconds_per_point,
            "points": self.points,
            "retention": self.retention,
            "size": self.size,
        }


@dataclass(frozen=True)
class MetricInfo:
    """DESCRIBE-level metadata for one metric (reference info(), O2)."""

    metric: str
    archives: tuple[ArchiveInfo, ...]
    x_files_factor: float
    created_at: int
    last_update: int = 0

    @property
    def max_retention(self) -> int:
        return max(a.retention for a in self.archives)

    @property
    def policy(self) -> tuple:
        """The retention-policy signature, ``(((spp, points), ...), xff)``:
        metrics with equal ones route, align and roll up alike."""
        return (
            tuple((a.seconds_per_point, a.points) for a in self.archives),
            self.x_files_factor,
        )

    def archive_for_age(self, age_seconds: int) -> ArchiveInfo | None:
        """Highest-precision archive whose retention covers ``age_seconds``.

        The routing rule shared by update (src/hoard.coffee:192-198),
        updateMany (:254-277) and fetch (:437-438): archives are sorted by
        ascending seconds_per_point, pick the first with retention >= age.
        """
        for a in self.archives:
            if a.retention >= age_seconds:
                return a
        return None

    def to_dict(self) -> dict:
        # Parity with reference info() (src/hoard.coffee:392-424): each
        # archive reports the byte offset it would occupy in the Whisper
        # file — header (metadataSize 16 + archiveInfoSize 12 per archive,
        # src/hoard.coffee:23-26, 54-55) plus the preceding archives' data.
        # Purely informational here (Parquet has no ring offsets), kept so
        # a reference client reading info() sees the same shape and values.
        archives = []
        offset = 16 + 12 * len(self.archives)
        for a in self.archives:
            d = a.to_dict()
            d["offset"] = offset
            offset += a.size
            archives.append(d)
        return {
            "metric": self.metric,
            "maxRetention": self.max_retention,
            "xFilesFactor": self.x_files_factor,
            "archiveCount": len(self.archives),
            "createdAt": self.created_at,
            "lastUpdate": self.last_update,
            "archives": archives,
        }


def validate_archives(archives: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Validate + sort an archive list ``[(seconds_per_point, points), ...]``."""
    if not archives:
        raise HoardError("at least one archive is required")
    for spp, points in archives:
        if spp <= 0 or points <= 0:
            raise HoardError(f"invalid archive ({spp}, {points}): must be positive")
    archives = sorted(archives, key=lambda a: a[0])  # precision order (ref :33)
    seen = set()
    for spp, _ in archives:
        if spp in seen:
            raise HoardError(f"duplicate archive resolution {spp}s")
        seen.add(spp)
    for (hi_spp, _), (lo_spp, lo_points) in zip(archives, archives[1:]):
        if lo_spp % hi_spp != 0:
            raise HoardError(
                f"tier resolution {lo_spp}s is not a multiple of finer tier {hi_spp}s"
            )
        if lo_spp * lo_points < hi_spp:  # degenerate coarser tier
            raise HoardError("coarser tier retains less than one finer-tier point")
    # Whisper's validateArchiveList retention-ordering rule: each coarser
    # tier must retain strictly longer than the finer tier, else it is
    # never selected by archive_for_age and its rollups are born expired.
    for (hi_spp, hi_points), (lo_spp, lo_points) in zip(archives, archives[1:]):
        if lo_spp * lo_points <= hi_spp * hi_points:
            raise HoardError(
                f"coarser tier ({lo_spp}s x {lo_points}) does not retain "
                f"longer than finer tier ({hi_spp}s x {hi_points})"
            )
    return archives


class Catalog:
    """Per-metric retention policies persisted as one JSON file.

    Thread-unsafe single-writer by design — the reference has no concurrency
    control either (FIXMEs at src/hoard.coffee:67, 183, 243); in a production
    deployment this becomes a Delta/metastore table.
    """

    FILENAME = "_hoard_catalog.json"

    def __init__(self, warehouse_dir: str):
        self.warehouse_dir = warehouse_dir
        self.path = os.path.join(warehouse_dir, self.FILENAME)
        os.makedirs(warehouse_dir, exist_ok=True)
        self._metrics: dict[str, MetricInfo] = {}
        self._load()

    # -- persistence -------------------------------------------------------
    def _load(self) -> None:
        if not os.path.exists(self.path):
            return
        with open(self.path) as f:
            raw = json.load(f)
        for m in raw.get("metrics", []):
            info = MetricInfo(
                metric=m["metric"],
                archives=tuple(
                    ArchiveInfo(i, a["secondsPerPoint"], a["points"])
                    for i, a in enumerate(m["archives"])
                ),
                x_files_factor=m["xFilesFactor"],
                created_at=m.get("createdAt", 0),
                last_update=m.get("lastUpdate", 0),
            )
            self._metrics[info.metric] = info

    def _save(self) -> None:
        save_json(
            self.path, {"metrics": [m.to_dict() for m in self._metrics.values()]}
        )

    # -- API (reference O1 / O2) -------------------------------------------
    def create(
        self,
        metric: str,
        archives: list[tuple[int, int]],
        x_files_factor: float = 0.5,
        now: int | None = None,
    ) -> MetricInfo:
        """Register a metric with retention tiers (reference create(), O1).

        Rejects an already-existing metric, mirroring the EEXIST check at
        src/hoard.coffee:35-36.
        """
        if metric in self._metrics:
            raise HoardError(f"metric already exists: {metric}")
        if not 0.0 <= x_files_factor <= 1.0:
            raise HoardError("xFilesFactor must be in [0, 1]")
        valid = validate_archives(archives)
        info = MetricInfo(
            metric=metric,
            archives=tuple(
                ArchiveInfo(i, spp, pts) for i, (spp, pts) in enumerate(valid)
            ),
            x_files_factor=float(x_files_factor),
            created_at=int(now if now is not None else time.time()),
        )
        self._metrics[metric] = info
        self._save()
        return info

    def create_many(
        self,
        entries: list[tuple[str, list[tuple[int, int]], float]],
        now: int | None = None,
    ) -> list[MetricInfo]:
        """Register a batch of metrics with ONE catalog write.

        Same rationale as ``touch_many``: the catalog JSON is O(metrics)
        bytes, so per-metric ``create()`` from a bulk registration (e.g.
        a 10k-file Whisper-tree import) rewrites it per metric —
        O(metrics²) driver bytes; the 10k-file migration bench measured
        the loop pinning the driver for minutes before this existed.
        All-or-nothing: every entry is validated before any is admitted,
        so a bad entry cannot leave a half-written batch behind.
        """
        created_at = int(now if now is not None else time.time())
        infos: list[MetricInfo] = []
        seen: set[str] = set()
        for metric, archives, xff in entries:
            if metric in self._metrics or metric in seen:
                raise HoardError(f"metric already exists: {metric}")
            if not 0.0 <= xff <= 1.0:
                raise HoardError("xFilesFactor must be in [0, 1]")
            valid = validate_archives(archives)
            seen.add(metric)
            infos.append(
                MetricInfo(
                    metric=metric,
                    archives=tuple(
                        ArchiveInfo(i, spp, pts)
                        for i, (spp, pts) in enumerate(valid)
                    ),
                    x_files_factor=float(xff),
                    created_at=created_at,
                )
            )
        for info in infos:
            self._metrics[info.metric] = info
        if infos:
            self._save()
        return infos

    def info(self, metric: str) -> MetricInfo:
        """Metadata lookup (reference info(), O2)."""
        if metric not in self._metrics:
            raise HoardError(f"unknown metric: {metric}")
        return self._metrics[metric]

    def exists(self, metric: str) -> bool:
        return metric in self._metrics

    def metrics(self) -> list[str]:
        return sorted(self._metrics)

    def drop(self, metric: str) -> None:
        self._metrics.pop(metric, None)
        self._save()

    def touch(self, metric: str, last_update: int) -> None:
        """Record lastUpdate (header field, src/hoard.coffee:23, 48-52)."""
        self.touch_many([metric], last_update)

    def touch_many(self, metrics: list[str], last_update: int) -> None:
        """Record lastUpdate for a batch of metrics with ONE catalog write.

        The catalog JSON is O(metrics) bytes, so per-metric touch() from a
        high-cardinality micro-batch would rewrite it per metric —
        O(metrics^2) driver bytes per batch. Batching keeps the control
        plane at one write per micro-batch regardless of metric count.
        """
        lu = int(last_update)
        for metric in metrics:
            old = self.info(metric)
            self._metrics[metric] = MetricInfo(
                metric=old.metric,
                archives=old.archives,
                x_files_factor=old.x_files_factor,
                created_at=old.created_at,
                last_update=max(old.last_update, lu),
            )
        self._save()
