"""Structured Streaming ingest — the stream adapter over the engine's
Spark write path (``HoardEngine._ingest_prepared``).

The reference has no streaming runtime, but its write path IS a streaming
contract (SURVEY.md §2B): tumbling buckets (src/hoard.coffee:203), bounded
lateness = maxRetention (:186-189), and late/out-of-order upserts inside
retention as a first-class feature (README.md:20-22 — the improvement over
RRD that motivated Whisper).

Design (SURVEY.md §7 hard part 2): Whisper-style backfill reaches *years*
into the past — far beyond any tenable watermark state for a stateful
streaming aggregation. So the stream never holds aggregation state at all:

    readStream -> foreachBatch:
        1. validity filter + tier routing + aligned append   (batch ingest)
        2. incremental rollup of the touched buckets only    (propagate)

Each micro-batch is a bounded batch job — the same job ``ingest_df`` runs
for one metric; LWW remains an at-read/compaction concern anchored on
``seq``. A batch without a source ``seq`` draws a fresh block of the
warehouse-wide write sequence, so a replayed batch rewrites the same
values under newer ``seq``s (same answer, extra rows until compaction);
for true end-to-end idempotence under retries, carry a source ``seq`` so
replays collapse in the LWW dedup.

What is stream-specific lives here: the synthesized ``seq`` block and its
bit guards, and the grouping of the whole catalog by retention-policy
signature, so each distinct policy costs one cascade write per batch, not
one per metric — with millions of metrics and a handful of policies (the
Graphite storage-schemas.conf pattern) this is the 100 TB-scale shape.
Routing joins the batch against a broadcast policy dimension
(``prepare_batch_multi``); the engine's write core then runs one collect,
the append, and one recompute and write per cascade tier of each policy
group (see ``HoardEngine._ingest_prepared``), whatever the metric count.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from hoard_spark.engine import HoardEngine
from hoard_spark.ingest import policy_dim, prepare_batch_multi


def ingest_microbatch(
    engine: HoardEngine,
    batch_df: DataFrame,
    batch_id: int,
    now: int | None = None,
    propagate: bool = True,
) -> None:
    """Process one micro-batch: columns (metric, ts, value[, seq]).
    ``batch_id`` is foreachBatch's epoch id; the write order comes from
    the engine's write sequence, not from it.

    Unknown metrics (no catalog policy) are skipped — the reference errors
    on a missing file; a stream must not die on one bad key, so they are
    dropped here (a dead-letter sink is the production extension point).
    """
    now = int(now if now is not None else time.time())
    known = engine.catalog.metrics()
    if not known:
        return
    if "seq" not in batch_df.columns:
        # No source sequence: order within the batch is arbitrary, so
        # synthesize one that makes writes apply in arrival order. The
        # batch reserves one 2^40 block of the engine's warehouse-wide
        # write sequence (the one update_many draws from, so either
        # writer's later write wins LWW) and packs inside it: partition
        # id bits 28-39 (<=4096 partitions, asserted below),
        # per-partition record index bits 0-27 (<=268M rows/partition in
        # one micro-batch). monotonically_increasing_id alone can't sit
        # in the block: it packs partitionId at bit 33, so any partition
        # id >=128 would overflow into the next block.
        npart = batch_df.rdd.getNumPartitions()
        if npart > 1 << 12:
            raise ValueError(
                f"micro-batch has {npart} partitions; seq bit budget "
                "allows 4096 — repartition the stream or supply a seq column"
            )
        per_part_idx = F.monotonically_increasing_id().bitwiseAND(
            F.lit((1 << 33) - 1)
        )
        # Enforce the 28-bit index budget per row (assert_true is a codegen
        # expression — no extra job): a partition with >2^28 rows in one
        # micro-batch would otherwise bleed into the partition-id bits and
        # corrupt cross-partition LWW ordering.
        idx_guard = F.coalesce(
            F.assert_true(
                per_part_idx < F.lit(1 << 28),
                F.lit(
                    "micro-batch partition exceeds 2^28 rows; seq bit "
                    "budget overflow — repartition the stream or supply "
                    "a seq column"
                ),
            ).cast("long"),
            F.lit(0).cast("long"),
        )
        batch_df = batch_df.withColumn(
            "seq",
            F.lit(engine._reserve_seq(1 << 40)).cast("long")
            + (F.spark_partition_id().cast("long") * F.lit(1 << 28))
            + per_part_idx
            + idx_guard,
        )
    batch_df = batch_df.select("metric", "ts", "value", "seq")

    # Driver-side control plane: group the CATALOG's metrics by policy
    # signature (routing and alignment depend only on the policy, never
    # the metric name). The batch's own metric set is discovered by the
    # engine's one (metric, tier) span collect — no separate distinct
    # job, and no metric-name ``isin`` literal in any plan (a 100k-metric
    # batch would make that a planning hazard; the broadcast dim join is
    # the scalable form of the same filter).
    by_sig: list[tuple] = []
    sig_index: dict[tuple, int] = {}
    for m in known:
        info = engine.catalog.info(m)
        s = info.policy
        if s not in sig_index:
            sig_index[s] = len(by_sig)
            by_sig.append((info, []))
        by_sig[sig_index[s]][1].append(m)

    prepared = engine.layout.with_mb(
        prepare_batch_multi(batch_df, policy_dim(engine.spark, by_sig), now)
    )
    engine._ingest_prepared(prepared, by_sig, now, propagate)


def start_ingest(
    engine: HoardEngine,
    stream_df: DataFrame,
    checkpoint_dir: str,
    now_fn: Callable[[], int] | None = None,
    propagate: bool = True,
    trigger: dict | None = None,
    query_name: str = "hoard_ingest",
) -> StreamingQuery:
    """Attach the ingest pipeline to a streaming DataFrame and start it.

    ``stream_df`` columns: (metric, ts long epoch-seconds, value double
    [, seq long]). ``trigger`` kwargs pass through to ``.trigger()``
    (default: ``availableNow=True`` — drain what's there, then stop; use
    ``processingTime='30 seconds'`` for continuous ingest).
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ingest_microbatch(
            engine,
            batch_df,
            batch_id,
            now=now_fn() if now_fn else None,
            propagate=propagate,
        )

    writer = (
        stream_df.writeStream.foreachBatch(process)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
    )
    return writer.start()
