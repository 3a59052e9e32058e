"""Per-layer metrics from a traced run's operations and spans."""

from __future__ import annotations

import os

from perfbench.stats import median, self_times
from perfbench.trace import SPARK_COUNTERS

# Spark scopes, each a kind of operation whose jobs are accounted together.
SPARK_SCOPES = (
    "write", "fetch_history",
    "timeseries", "relational", "text", "vector",
    "neardup", "vectors",
)
# Span-name prefixes grouped into the layers whose self time is reported.
SELF_LAYERS = ("catalog", "ingest", "rollup", "fetch", "fsutil", "artifacts", "stream", "driver")


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def ms(seconds: float) -> float:
    return seconds * 1000.0


def spark_scope_metrics(ops: list[dict], cores: int) -> dict[str, float]:
    """Per scope that ``ops`` has: each counter's mean per operation, and
    the executor share (executor run time over the operations' core
    time)."""
    out = {}
    for scope in SPARK_SCOPES:
        sel = [o for o in ops if o["scope"] == scope and "spark" in o]
        if not sel:
            continue
        for c in SPARK_COUNTERS:
            out[f"spark.{scope}.{c}"] = mean(o["spark"][c] for o in sel)
        wall_ms = sum(ms(o["wall"]) for o in sel)
        exec_ms = sum(o["spark"]["executor_run_ms"] for o in sel)
        out[f"spark.{scope}.executor_share"] = exec_ms / (wall_ms * cores) if wall_ms else 0.0
    return out


def span_walls(spans: list[dict], op: int, name: str) -> list[float]:
    return [s["end"] - s["start"] for s in spans if s["op"] == op and s["name"] == name]


def self_time_shares(spans: list[dict]) -> dict[str, float]:
    """Each layer's self time as a share of all traced operation wall.
    An operation's root span's self time is the ``driver`` layer: time
    spent in no wrapped layer entry point."""
    selfs = self_times(spans)
    total = sum(s["end"] - s["start"] for s in spans if s["parent"] is None and s["op"] is not None)
    by_layer = dict.fromkeys(SELF_LAYERS, 0.0)
    for s, t in zip(spans, selfs):
        if s["op"] is None:
            continue
        layer = "driver" if s["parent"] is None else s["name"].split(".")[0]
        by_layer[layer] = by_layer.get(layer, 0.0) + t
    return {f"self.{k}_share": (v / total if total else 0.0) for k, v in by_layer.items()}


def overhead(ops: list[dict]) -> float:
    """Traced-minus-untraced wall over untraced wall, per group of like
    operations (kind, scope and, where set, ``key``), averaged over the
    groups that have both."""

    def group(o):
        return o["kind"], o["scope"], o.get("key")

    ratios = []
    for g in {group(o) for o in ops}:
        t = [o["wall"] for o in ops if group(o) == g and o["traced"]]
        u = [o["wall"] for o in ops if group(o) == g and not o["traced"]]
        if t and u:
            ratios.append(median(t) / median(u) - 1.0)
    return mean(ratios)


def tree_files(root: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``root``."""
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size
