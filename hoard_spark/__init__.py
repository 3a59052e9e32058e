"""hoard_spark — a PySpark-native analytics engine with the capabilities of
cgbystrom/hoard (Whisper-style round-robin time-series storage), rebuilt
Spark-first.

The reference (/root/reference/src/hoard.coffee) is a single-process binary
ring-buffer store with five API calls: create / update / updateMany / info /
fetch. This package re-expresses those semantics over time-partitioned
Parquet + Structured Streaming, and adds the relational / LLM-data-pipeline
surface described in SURVEY.md §2C — all as declarative DataFrame plans so
Catalyst (pushdown, pruning, AQE) does the physical work.

Layout:
    catalog.py    — retention-policy catalog (create/info; ref O1/O2)
    ingest.py     — batch upsert paths (update/updateMany; ref O3/O4/O5)
    rollup.py     — cascaded xff-gated downsampling (propagate; ref O6)
    fetch.py      — range fetch w/ tier routing + gap-fill (ref O7)
    engine.py     — HoardEngine facade tying the above together
    layout.py     — the warehouse partition layout and its one writer
    session.py    — tuned SparkSession builder
    functions/    — scalar helpers (bucket alignment, spines, vector math)
    queries/      — the 89-query conformance surface (SURVEY.md §2C)
    pipeline.py / ann.py / asof.py / sessionize.py / simjoin.py /
    intervals.py / diff.py / sketches.py / multimodal.py / bucketing.py
                  — composable library operators (dedup, similarity,
                    windows, sketches, media) behind the queries
    sources/      — Whisper binary import/export, document corpus, media
    streaming/    — Structured Streaming ingest (foreachBatch incremental),
                    stateful LWW changelog, incremental near-dup/sketches
"""

from hoard_spark.catalog import Catalog, MetricInfo, ArchiveInfo
from hoard_spark.engine import HoardEngine

__all__ = ["Catalog", "MetricInfo", "ArchiveInfo", "HoardEngine"]
__version__ = "0.1.0"
