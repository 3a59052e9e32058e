"""Banded-signature dedup store: the one core under ``NearDupIndex``
(MinHash over word shingles, ``streaming/neardup.py``) and
``VectorDupIndex`` (random-hyperplane bits over embeddings,
``streaming/vectors.py``).

The store keeps one signature row per accepted item (``signatures/``)
and, per micro-batch:

1. computes the batch's signatures (the subclass's signature function),
2. derives LSH bands on BOTH the batch and the store and equi-joins on
   (band_id, band key) — candidates only, never a cross product:
   new-vs-store pairs count any collision, new-vs-new pairs keep only
   ``new_id > matched_id`` (the higher id is "the duplicate"),
3. verifies candidates from the stored signatures alone (the subclass's
   estimator, kept when ``>= threshold``) — the store never keeps raw
   text or vectors,
4. appends (new_id, matched_id, <estimate>, batch) rows to ``matches/``,
   then the batch's signatures to ``signatures/``.

Cost, as measured: each batch re-reads the whole signature store,
regroups it by id and re-derives every stored item's bands, so per-batch
work grows with the store — O(store + batch + candidates), not
O(batch + candidates). Either store ran 14 Spark jobs per batch on an
sf0.01 corpus (3 batches, 4 cores). Persisting band rows at admission is
the planned fix (ROADMAP direction 3).

Semantics are at-least-once under foreachBatch replays: signatures
dedupe by id at read (a replay appends duplicate rows, never wrong
signatures, so any winner per id is correct), matches dedupe per
(new, matched) pair at read, and a replayed batch anti-joins its own ids
out of the store view before matching — else the replay would emit the
symmetric twin of every within-batch pair (batch item vs its stored
copy).

No reference analog (src/hoard.coffee is a metrics store with no dedup
surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

import hoard_spark.streaming.compact as compaction
from hoard_spark.fsutil import read_parquet_or_empty
from hoard_spark.streaming.store import MicroBatchStore


class BandedDupStore(MicroBatchStore):
    """Persistent signature store + per-batch banded matcher.

    Subclasses set ``id_col``, ``sig_schema`` (id_col, sig), ``band_key``
    (the band value column ``_bands`` emits beside ``band_id``) and
    ``est_col``, and define ``_signatures(batch)``, ``_bands(sigs)`` and
    ``_estimate()`` (a Column over ``sig_a``/``sig_b``)."""

    id_col: str
    sig_schema: T.StructType
    band_key: str
    est_col: str

    def __init__(self, spark: SparkSession, path: str, threshold: float):
        self.spark = spark
        self.path = path.rstrip("/")
        self.threshold = threshold
        self.sig_path = f"{self.path}/signatures"
        self.match_path = f"{self.path}/matches"
        for root in (self.sig_path, self.match_path):
            compaction.recover(spark, root)

    @property
    def _match_schema(self) -> str:
        return (
            f"new_id long, matched_id long, {self.est_col} double, "
            "batch long"
        )

    def compact(self, target_files: int = 32) -> dict:
        """Consolidate the per-batch appended files (tasks x batches
        growth) — row-multiset identical, crash-safe via the manifest
        protocol in streaming.compact. Run between batches."""
        return {
            "signatures": compaction.compact_flat(
                self.spark, self.sig_path, self.sig_schema, target_files
            ),
            "matches": compaction.compact_flat(
                self.spark,
                self.match_path,
                self._match_schema,
                target_files,
            ),
        }

    # -- store ------------------------------------------------------------
    def signatures(self) -> DataFrame:
        """The accepted-item signature store, deduped by id."""
        return (
            read_parquet_or_empty(self.spark, self.sig_path, self.sig_schema)
            .groupBy(self.id_col)
            .agg(F.min("sig").alias("sig"))
        )

    def matches(self) -> DataFrame:
        return read_parquet_or_empty(
            self.spark, self.match_path, self._match_schema
        ).dropDuplicates(["new_id", "matched_id"])

    # -- per-batch matcher ------------------------------------------------
    def _pairs(self, left: DataFrame, right: DataFrame, strict: bool):
        keys = ["band_id", self.band_key]
        a = left.select(F.col(self.id_col).alias("new_id"), *keys)
        b = right.select(F.col(self.id_col).alias("matched_id"), *keys)
        cond = (
            (F.col("new_id") > F.col("matched_id"))
            if strict
            else (F.col("new_id") != F.col("matched_id"))
        )
        return (
            a.join(b, keys)
            .where(cond)
            .select("new_id", "matched_id")
            .distinct()
        )

    def process_batch(self, batch: DataFrame, batch_id: int = 0) -> None:
        """Match ``batch`` against the store AND within itself, persist
        the matches, then admit the batch's signatures."""
        i, est = self.id_col, self.est_col
        new_sigs = self._signatures(batch).persist()
        store = None
        try:
            # replay safety: see the store as it was BEFORE this batch
            store = (
                self.signatures()
                .join(new_sigs.select(i), i, "left_anti")
                .persist()
            )
            nb = self._bands(new_sigs)
            sb = self._bands(store)
            cands = self._pairs(nb, sb, strict=False).unionByName(
                self._pairs(nb, nb, strict=True)
            )
            sa = new_sigs.select(
                F.col(i).alias("new_id"), F.col("sig").alias("sig_a")
            )
            all_sigs = (
                store.unionByName(new_sigs)
                .groupBy(i)
                .agg(F.min("sig").alias("sig"))
            )
            sb2 = all_sigs.select(
                F.col(i).alias("matched_id"), F.col("sig").alias("sig_b")
            )
            out = (
                cands.join(sa, "new_id")
                .join(sb2, "matched_id")
                .withColumn(est, self._estimate())
                .where(F.col(est) >= self.threshold)
                .select(
                    "new_id",
                    "matched_id",
                    F.round(est, 4).alias(est),
                    F.lit(batch_id).cast("long").alias("batch"),
                )
            )
            out.write.mode("append").parquet(self.match_path)
            new_sigs.write.mode("append").parquet(self.sig_path)
        finally:
            new_sigs.unpersist()
            if store is not None:
                store.unpersist()
