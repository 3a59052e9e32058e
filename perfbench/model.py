"""Reference model of the hoard write/fetch contract for the ``tsdb``
workload's output checks.

It keeps tier 0 as last-write-wins buckets and derives each coarser tier
as the xff-gated mean of the tier above it, the way Whisper propagates.
It accepts only points that route to tier 0 (age within tier 0's
retention); the workload's generator never makes any other kind, and
the model refuses them rather than guess.
"""

from __future__ import annotations


class TsdbModel:
    def __init__(self, archives: list[tuple[int, int]], xff: float):
        self.archives = [(int(spp), int(n)) for spp, n in archives]
        for (hi, _), (lo, _) in zip(self.archives, self.archives[1:]):
            if lo % hi:
                raise ValueError(f"tier width {lo} is not a multiple of {hi}")
        self.xff = float(xff)
        self.tier0: dict[str, dict[int, float]] = {}

    def retention(self, tier: int) -> int:
        spp, n = self.archives[tier]
        return spp * n

    def write(self, metric: str, points, now: int) -> None:
        """Apply ``points`` in the order given; a later point wins its
        bucket."""
        spp0 = self.archives[0][0]
        buckets = self.tier0.setdefault(metric, {})
        for ts, value in points:
            age = now - ts
            if not 0 <= age <= self.retention(0):
                raise ValueError(f"point {ts} does not route to tier 0 at {now}")
            buckets[ts - ts % spp0] = float(value)

    def write_batch(self, rows, now: int) -> None:
        """A multi-metric batch of ``(metric, ts, value)`` rows with at
        most one row per metric and bucket, so its order does not matter."""
        for metric, ts, value in rows:
            self.write(metric, [(ts, value)], now)

    def update_many(self, metric: str, points, now: int) -> None:
        """One ``update_many`` call: chronological within the call, ties
        broken by input position."""
        order = sorted(range(len(points)), key=lambda i: (points[i][0], i))
        self.write(metric, [points[i] for i in order], now)

    def tier(self, metric: str, tier: int) -> dict[int, float]:
        """Bucket -> value of one tier. Coarser tiers are the mean of the
        known buckets of the tier above, kept only when at least ``xff``
        of that tier's slots are known."""
        values = dict(self.tier0.get(metric, {}))
        for k in range(1, tier + 1):
            hi, lo = self.archives[k - 1][0], self.archives[k][0]
            slots = lo // hi
            groups: dict[int, list[float]] = {}
            for b, v in values.items():
                groups.setdefault(b - b % lo, []).append(v)
            values = {
                b: sum(vs) / len(vs)
                for b, vs in groups.items()
                if len(vs) / slots >= self.xff
            }
        return values

    def fetch(self, metric: str, from_ts: int, to_ts: int, now: int):
        """``((from_interval, to_interval, step), values)`` as the hoard
        ``fetch`` call defines it: clamp to the retention and to ``now``,
        answer from the finest tier whose retention covers ``from``."""
        from_ts = max(from_ts, now - self.retention(len(self.archives) - 1))
        to_ts = min(to_ts, now)
        if from_ts >= to_ts:
            raise ValueError("from must be before to")
        tier = next(
            k for k in range(len(self.archives))
            if self.retention(k) >= now - from_ts
        )
        spp = self.archives[tier][0]
        lo = from_ts - from_ts % spp + spp
        hi = to_ts - to_ts % spp + spp
        data = self.tier(metric, tier)
        return (lo, hi, spp), [data.get(b) for b in range(lo, hi, spp)]


def same_values(got: list, want: list, exact: bool) -> bool:
    """Compare fetched values with the model's. Tier 0 must match exactly;
    a coarser tier is a mean of means, whose float rounding depends on
    summation order, so it matches to a relative 1e-12."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if (g is None) != (w is None):
            return False
        if g is None:
            continue
        if exact and g != w:
            return False
        if not exact and abs(g - w) > 1e-12 * max(1.0, abs(w)):
            return False
    return True
