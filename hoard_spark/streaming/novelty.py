"""Streaming incremental n-gram novelty (persistent seen-gram store).

The batch q95 answers "how novel is each doc against everything with a
lower doc_id"; a training-data ingest pipeline needs the online twin:
*as documents stream in, what fraction of each doc's grams has the
corpus never seen before?* Low scores flag template/boilerplate floods
at ingest time, before they reach dedup. This operator maintains a
persistent seen-gram store and, per micro-batch:

1. builds the per-doc DISTINCT word-3-gram rows (the same codegen
   posexplode + lead shape as the batch family), hashed to one long per
   gram (``xxhash64`` — the store never keeps gram text, 8 bytes per
   distinct corpus gram; a hash collision can only undercount novelty),
2. marks within-batch first occurrences (min doc_id per gram — one
   shuffle on the gram, matching the batch q95's ordering rule),
3. flags store hits with a single equi-join against the seen-gram
   store (gram-hash keyed — candidates only, nothing quadratic),
4. emits (doc_id, n_grams, n_new, novelty, batch) scores and admits the
   batch's first-occurrence store-miss grams.

Streamed in doc_id order, the scores equal the batch q95 exactly
(pinned in tests/test_streaming_novelty.py); streamed in any other
order they are the arrival-order novelty, which is the quantity an
ingest gate actually wants.

Scale: the store is the corpus gram dictionary — linear in distinct
grams (8+8 bytes per row), the same growth rate as the q72 span-dedup
key space; partition it by hash range and let AQE size the join. Per
batch: one gram shuffle + one store join + one doc re-aggregation.
Semantics are at-least-once under foreachBatch replays: a replayed
batch excludes store rows its own earlier attempt admitted (store rows
carry the admitting doc_id; doc_ids are globally unique), and scores
dedupe by doc_id at read — same discipline as the near-dup signature
store (streaming/neardup.py).

No reference analog (src/hoard.coffee:181-393 is a metrics store with
no text surface); declared as a round-8 streaming+pipeline extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hoard_spark.fsutil import read_parquet_or_empty
from hoard_spark.streaming.neardup import shingle_rows_of
from hoard_spark.streaming.store import MicroBatchStore

_GRAM_SEED = 95  # fixed hash seed — the store key must be stable forever

_GRAM_SCHEMA = T.StructType(
    [
        T.StructField("g", T.LongType()),
        T.StructField("doc_id", T.LongType()),
    ]
)

_SCORE_SCHEMA = (
    "doc_id long, n_grams long, n_new long, novelty double, batch long"
)


def gram_hashes(docs: DataFrame, width: int = 3) -> DataFrame:
    """(doc_id, text, …) → (doc_id, g): one row per distinct word-``width``
    gram, hashed to a long. Docs with <width tokens yield no rows (no
    grams — they carry no novelty signal, matching the batch q95's token
    gate at the default). ``width`` is the saturated-domain scale knob
    (see shingle_rows_of): on a closed vocabulary the w^3 gram domain
    saturates and per-gram df grows with the corpus, so posting joins go
    quadratic; width 5 keeps df flat (the batch family's declared scale
    path, tools/bench_containment_w5.json)."""
    return shingle_rows_of(docs, width=width).select(
        "doc_id", F.xxhash64("s", F.lit(_GRAM_SEED)).alias("g")
    )


class NoveltyIndex(MicroBatchStore):
    """Persistent seen-gram store + per-batch novelty scorer.

    ``process_batch(docs)`` is directly usable as a ``foreachBatch``
    body; ``sink(stream)`` wires it to a streaming query.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        self.gram_path = f"{self.path}/grams"
        self.score_path = f"{self.path}/scores"
        from hoard_spark.streaming.compact import recover

        for root in (self.gram_path, self.score_path):
            recover(spark, root)

    def compact(self, target_files: int = 32) -> dict:
        """Consolidate the per-batch appended files (tasks x batches
        growth) — row-multiset identical, crash-safe via the manifest
        protocol in streaming.compact. Run between batches."""
        from hoard_spark.streaming.compact import compact_flat

        return {
            "grams": compact_flat(
                self.spark, self.gram_path, _GRAM_SCHEMA, target_files
            ),
            "scores": compact_flat(
                self.spark, self.score_path, _SCORE_SCHEMA, target_files
            ),
        }

    # -- store ------------------------------------------------------------
    def grams(self) -> DataFrame:
        """The seen-gram store. Replayed appends duplicate rows but never
        change a gram's hash, so any winner per gram is correct."""
        return (
            read_parquet_or_empty(self.spark, self.gram_path, _GRAM_SCHEMA)
            .groupBy("g")
            .agg(F.min("doc_id").alias("doc_id"))
        )

    def scores(self) -> DataFrame:
        """Per-doc novelty scores (deduped by doc_id under replays)."""
        return read_parquet_or_empty(
            self.spark, self.score_path, _SCORE_SCHEMA
        ).dropDuplicates(["doc_id"])

    # -- per-batch scorer ---------------------------------------------------
    def process_batch(self, docs: DataFrame, batch_id: int = 0) -> None:
        """Score ``docs`` (doc_id, text) against the store and within the
        batch (min doc_id per gram wins), persist scores, then admit the
        batch's first-occurrence store-miss grams."""
        from pyspark.sql import Window

        from hoard_spark.queries import dround

        rows = gram_hashes(docs).persist()
        store = None
        try:
            # a replayed batch must see the store as it was BEFORE its own
            # earlier attempt admitted grams — store rows carry the
            # admitting doc_id, so drop rows admitted by this batch's docs
            store = (
                self.grams()
                .join(
                    rows.select("doc_id").distinct(),
                    "doc_id",
                    "left_anti",
                )
                .select("g")
                .persist()
            )
            first = F.min("doc_id").over(Window.partitionBy("g"))
            flagged = (
                rows.withColumn("first_doc", first)
                .join(
                    store.withColumn("seen", F.lit(True)), "g", "left"
                )
                .withColumn(
                    "is_new",
                    (
                        (F.col("first_doc") == F.col("doc_id"))
                        & F.col("seen").isNull()
                    ).cast("long"),
                )
            )
            out = (
                flagged.groupBy("doc_id")
                .agg(
                    F.count("*").alias("n_grams"),
                    F.sum("is_new").alias("n_new"),
                )
                .select(
                    "doc_id",
                    "n_grams",
                    "n_new",
                    dround(F.col("n_new") / F.col("n_grams")).alias(
                        "novelty"
                    ),
                    F.lit(batch_id).cast("long").alias("batch"),
                )
            )
            out.write.mode("append").parquet(self.score_path)
            # admit exactly the rows that scored as new: within-batch
            # first occurrence AND store miss
            (
                flagged.where(F.col("is_new") == 1)
                .select("g", "doc_id")
                .write.mode("append")
                .parquet(self.gram_path)
            )
        finally:
            rows.unpersist()
            if store is not None:
                store.unpersist()
