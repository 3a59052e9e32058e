"""Structured Streaming ingest — the streaming update/updateMany surface.

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

Each micro-batch is a bounded batch job; LWW remains an at-read/compaction
concern anchored on ``seq``. A batch without a source ``seq`` draws a fresh
block of the warehouse-wide write sequence, so a replayed batch rewrites
the same values under newer ``seq``s (same answer, extra rows until
compaction); for true end-to-end idempotence under retries, carry a source
``seq`` so replays collapse in the LWW dedup.

Multi-metric batches are grouped by retention-policy signature so each
distinct policy costs one cascade write per batch, not one per metric —
with millions of metrics and a handful of policies (the Graphite
storage-schemas.conf pattern) this is the 100 TB-scale shape.

Per-batch job budget (round 8, fused): routing joins the batch against a
broadcast policy dimension (``prepare_batch_multi``), so ONE job both
fills the prepared cache and collects, for every policy group at once,
the metrics present and the rollup partitions touched; then the points
append and the per-policy cascade writes run CONCURRENTLY off that cache
(both are pure readers of it — the LWW collapse makes any interleaving of
their disk visibility idempotent). Total: 2 + O(tiers) jobs per
micro-batch, independent of metric AND policy count, with the append
hidden under the cascade's wall-clock.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark import InheritableThread
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from hoard_spark.engine import HoardEngine
from hoard_spark.functions import bucket_date_col
from hoard_spark.ingest import policy_dim, prepare_batch_multi
from hoard_spark.rollup import plan_cascade


def _policy_signature(info) -> tuple:
    return (
        tuple((a.seconds_per_point, a.points) for a in info.archives),
        info.x_files_factor,
    )


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
    # fused touched pass below — no separate distinct job, and no
    # metric-name ``isin`` literal in any plan (a 100k-metric batch
    # would make that a planning hazard; the broadcast dim join is the
    # scalable form of the same filter).
    by_sig: list[tuple] = []
    sig_index: dict[tuple, int] = {}
    for m in known:
        info = engine.catalog.info(m)
        s = _policy_signature(info)
        if s not in sig_index:
            sig_index[s] = len(by_sig)
            by_sig.append((info, []))
        by_sig[sig_index[s]][1].append(m)

    prepared = engine.ingestor.with_mb(
        prepare_batch_multi(batch_df, policy_dim(engine.spark, by_sig), now)
    ).cache()
    try:
        # ONE job fills the cache and answers, per policy group: which
        # metrics does the batch touch, and which (tier, metric, date)
        # rollup partitions do they dirty.
        present, touched = _collect_touched(engine, prepared, by_sig)
        if not present:
            return
        with engine._writer_lock():
            _apply_microbatch(
                engine, prepared, by_sig, present, touched, now, propagate
            )
    finally:
        prepared.unpersist()


def _collect_touched(engine, prepared, by_sig):
    """One distinct job over the prepared cache: per policy group, the
    metrics present and the (metric, coarse-bucket date) pairs per cascade
    tier (the generalized ``_.uniq`` propagate-target dedup,
    src/hoard.coffee:373-378). Single-archive groups contribute a
    presence-only arm (``tk = 0``) so ``touch_many`` still sees them."""
    frames = []
    for sid, (info, _) in enumerate(by_sig):
        base = prepared.where(F.col("_sig") == sid)
        cascade = plan_cascade(info)
        if not cascade:
            frames.append(
                base.select(
                    F.lit(sid).alias("sid"),
                    F.lit(0).alias("tk"),
                    "metric",
                    F.to_date(F.lit("1970-01-01")).alias("d"),
                )
            )
            continue
        for tier_k, _, lower_spp in cascade:
            frames.append(
                base.where(F.col("tier") <= tier_k).select(
                    F.lit(sid).alias("sid"),
                    F.lit(tier_k).alias("tk"),
                    "metric",
                    bucket_date_col(
                        F.col("bucket_ts")
                        - F.pmod(F.col("bucket_ts"), F.lit(lower_spp))
                    ).alias("d"),
                )
            )
    un = frames[0]
    for f in frames[1:]:
        un = un.unionByName(f)
    # Steady-state micro-batches touch (metrics x days-per-batch) pairs —
    # tiny — but a backfill batch replaying years of history would pull a
    # huge list through the driver. Above the engine's cap, collect only
    # the present-metric set (bounded by the metric universe) and hand the
    # batch itself to propagate_many, whose own capped path recomputes
    # each tier over the batch's min/max date range as a predicate.
    cap = getattr(engine, "propagate_touched_cap", 0) or 0
    rows = (
        un.distinct().limit(cap + 1).collect()
        if cap > 0
        else un.distinct().collect()
    )
    present: dict[int, set] = {}
    if cap > 0 and len(rows) > cap:
        for r in (
            prepared.select("_sig", "metric").distinct().collect()
        ):
            present.setdefault(r["_sig"], set()).add(r["metric"])
        return present, None
    touched: dict[int, dict[int, set]] = {}
    for r in rows:
        present.setdefault(r["sid"], set()).add(r["metric"])
        touched.setdefault(r["sid"], {}).setdefault(r["tk"], set()).add(
            (r["metric"], str(r["d"]))
        )
    return present, touched


def _apply_microbatch(engine, prepared, by_sig, present, touched, now, propagate):
    # ONE catalog write for the whole batch (touch_many), not one per
    # metric or policy — the control plane stays O(1) writes per batch.
    all_present = sorted(set().union(*present.values()))
    engine.catalog.touch_many(all_present, now)

    # The points append and the rollup cascade are both pure readers of
    # the prepared cache, so they run concurrently: the cascade's tier
    # views take the micro-batch from memory (``pending``) and whatever
    # subset of this batch's files a racing scan happens to see on disk
    # collapses in LWW (identical (metric, tier, bucket, seq) rows), so
    # every interleaving converges — same argument that makes
    # foreachBatch replays idempotent. InheritableThread propagates the
    # caller's job group/scheduler pool to the append's jobs.
    err: list[BaseException] = []

    def _append_points() -> None:
        try:
            engine.ingestor.write(
                prepared.select(
                    "metric", "tier", "bucket_ts", "date", "value", "seq",
                    "ts", *(["mb"] if engine.metric_buckets else []),
                )
            )
        except BaseException as e:  # surfaced after join below
            err.append(e)

    writer = InheritableThread(target=_append_points)
    writer.start()
    try:
        if propagate:
            for sid, (info, _) in enumerate(by_sig):
                mets = sorted(present.get(sid, ()))
                if not mets or len(info.archives) <= 1:
                    continue
                # ONE multi-metric cascade per policy group: O(tiers)
                # Spark jobs, independent of metric count, scoped by the
                # precomputed touched sets (no second distinct pass).
                # touched=None => the batch blew the touched-pair cap
                # (backfill): hand the rows to propagate_many as `batch`
                # with the over-cap signal, so it skips straight to the
                # per-tier date-range path instead of re-running the
                # capped distinct-collect on a batch we already know
                # overflows it (ADVICE r9).
                sig_rows = prepared.where(F.col("_sig") == sid)
                if touched is None:
                    engine.propagate_many(
                        mets,
                        batch=sig_rows,
                        pending=sig_rows,
                        force_range=True,
                    )
                else:
                    engine.propagate_many(
                        mets,
                        pending=sig_rows,
                        touched_by_tier={
                            k: v for k, v in touched[sid].items() if k >= 1
                        },
                    )
    finally:
        writer.join()
    if err:
        raise err[0]


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
