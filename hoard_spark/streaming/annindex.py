"""Streaming incremental ANN index maintenance (VERDICT r9 stretch 8).

The batch family materializes an IVF-PQ index once per corpus version
(``hoard_spark.ann.materialized_index``); a training-data ingest
pipeline needs the online twin: *as embedding vectors stream in, keep
the searchable index current without retraining or rebuilding.* This
operator maintains a persistent assigned-corpus store and, per
micro-batch:

1. on the FIRST batch, trains the IVF centroids + PQ codebooks on the
   batch's bounded deterministic sample (the same ``train_centroids`` /
   ``train_pq_codebooks`` the batch index uses) and persists the model;
2. assigns + PQ-encodes the batch's vectors against the FIXED model —
   a pure map-side projection over literal centroid/codebook arrays,
   exactly the batch index's build pass scoped to the batch — and
   appends (vec_id, v, nrm, cell, pq) to the store;
3. records the batch's mean assignment cosine (mean over rows of
   cos(v, centroid(cell))) in a stats table: a DRIFT TRIGGER — when a
   batch's mean assign-cos drops more than ``drift_tolerance`` below
   the trailing mean of the PRIOR non-model batches (the model batch's
   own fit is optimistically biased — its rows are the training
   sample — so it anchors nothing), the corpus has moved away from the
   trained centroids and ``drifted_batches()`` flags it for retrain —
   executed by the explicit ``retrain()`` operation (VERDICT r10 item
   7): retrain the model on a bounded (optionally trailing) sample of
   the store, map-side re-encode the whole store, publish both as the
   next VERSION (the sidecar's ``ver`` row resolves the table path, so
   the swap is crash-consistent), and reset the drift baseline.
   Deliberately operator-triggered rather than a mid-stream side
   effect: an index that silently retrains changes cell geometry under
   its readers.

Equivalence contract (pinned in tests/test_streaming_annindex.py):
because assignment/encoding is deterministic given the model, the
store after N batches is ROW-FOR-ROW equal to the batch build
``encode_pq(assign_cells(normalized(corpus), cents), books)`` over the
union corpus with the same model — so every ``hoard_spark.ann`` search
(IVF, IVF-PQ ADC) runs against the store unchanged, and incremental
maintenance is exactly the batch index amortized over arrivals.
Replays are idempotent: ``table()`` dedupes by vec_id (a replayed
append duplicates whole rows, never disagreeing ones — the model is
fixed), the store discipline shared with the neardup/vector stores.
The append-only invariant is GUARDED, not assumed (ADVICE r10): a
vec_id already in the store may only be re-ingested byte-identically;
a batch that re-keys a vec_id to a different embedding raises before
anything is written (same fingerprint discipline as the containment
store). The stats table is idempotent per batch — a replay whose stats
row already exists skips the append, and ``is_model_batch`` is derived
from the batch id RECORDED IN THE MODEL SIDECAR, so a crash between
the model write and the checkpoint commit replays the training batch
with its original flag instead of polluting the drift baseline.

Scale: per batch the work is one map-side assign+encode over the batch
plus an append — no store rescan, no shuffle of the store; the stats
row is one tiny aggregate. The store itself IS the searchable artifact
(same columns the materialized index writes), so search cost is the
pinned batch shape.

No reference analog (src/hoard.coffee is a time-series store); this is
the streaming member of the ANN family (SURVEY §2C Q38/Q39 tail).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hoard_spark.fsutil import read_parquet_or_empty
from hoard_spark.streaming.store import MicroBatchStore

_MODEL_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("j", T.IntegerType()),
        T.StructField("vec", T.ArrayType(T.DoubleType())),
    ]
)

_STATS_SCHEMA = (
    "batch long, n_rows long, mean_assign_cos double, "
    "is_model_batch boolean, ver int"
)


class AnnIndexStore(MicroBatchStore):
    """Persistent incremental IVF-PQ index. ``process_batch(vecs)`` is a
    ``foreachBatch`` body; ``sink(stream)`` wires it to a streaming
    query; ``search_ivf``/``search_ivf_pq`` run against ``table()``."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        k: int = 8,
        m: int = 8,
        ks: int = 16,
        drift_tolerance: float = 0.05,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.k, self.m, self.ks = k, m, ks
        self.drift_tolerance = drift_tolerance
        self.model_path = f"{self.path}/model"
        self.table_path = f"{self.path}/table"
        self.stats_path = f"{self.path}/stats"
        self._model: tuple[list, list] | None = None
        self._model_batch: int | None = None
        self._model_version: int | None = None
        from hoard_spark.fsutil import WarehouseFS
        from hoard_spark.streaming.compact import recover

        # versioned table dirs (table, table_v2, ...) are discovered by
        # listing: the current version is only known after a model read
        fs = WarehouseFS(spark)
        roots = [
            f"{self.path}/{n}"
            for n in fs.listdir(self.path)
            if n == "table" or n.startswith("table_v")
        ] or [self.table_path]
        for root in (*roots, self.stats_path):
            recover(spark, root)

    def compact(self, target_files: int = 32) -> dict:
        """Consolidate the current-version table's per-batch appended
        files and the one-file-per-batch stats table — row-multiset
        identical (read-side dropDuplicates semantics untouched),
        crash-safe via the manifest protocol in streaming.compact. Run
        between batches, like ``maintain``. Superseded table versions
        are ``maintain``'s cleanup concern, not compaction's."""
        from hoard_spark.streaming.compact import compact_flat

        return {
            "table": compact_flat(
                self.spark,
                self._table_path(),
                self._TABLE_SCHEMA,
                target_files,
            ),
            "stats": compact_flat(
                self.spark, self.stats_path, _STATS_SCHEMA, target_files
            ),
        }

    # -- store ------------------------------------------------------------
    def model(self) -> "tuple[list, list] | None":
        """(cents, books) or None before the first batch."""
        if self._model is not None:
            return self._model
        rows = read_parquet_or_empty(
            self.spark, self.model_path, _MODEL_SCHEMA
        ).collect()
        if not rows:
            return None
        cents = sorted(
            (r["i"], list(r["vec"])) for r in rows if r["kind"] == "cent"
        )
        book_rows = {
            (r["i"], r["j"]): list(r["vec"])
            for r in rows
            if r["kind"] == "book"
        }
        books = [
            [book_rows[(j, c)] for c in range(self.ks)]
            for j in range(self.m)
        ]
        meta = [r["i"] for r in rows if r["kind"] == "meta"]
        self._model_batch = meta[0] if meta else None
        ver = [r["i"] for r in rows if r["kind"] == "ver"]
        self._model_version = ver[0] if ver else 1
        self._model = (cents, books)
        return self._model

    def model_batch_id(self) -> "int | None":
        """The batch id the model was trained on (from the model
        sidecar's ``meta`` row), or None before the first batch / for
        pre-r11 sidecars that predate the row."""
        self.model()  # populate the cache
        return getattr(self, "_model_batch", None)

    def model_version(self) -> int:
        """The model sidecar's version — 1 for the first-trained model,
        bumped by every ``retrain()``. The versioned table path derives
        from it, so a crash between the re-encoded table write and the
        sidecar write leaves the store consistently on the old version."""
        self.model()  # populate the cache
        return getattr(self, "_model_version", None) or 1

    def _table_path(self, ver: "int | None" = None) -> str:
        v = self.model_version() if ver is None else ver
        return self.table_path if v <= 1 else f"{self.table_path}_v{v}"

    _TABLE_SCHEMA = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("v", T.ArrayType(T.DoubleType())),
            T.StructField("nrm", T.DoubleType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("pq", T.LongType()),
            T.StructField("b", T.LongType()),  # admitting batch id
        ]
    )

    def _table_raw(self) -> DataFrame:
        """Current-version table incl. the admitting-batch column ``b``
        (null on pre-r11 rows) — retrain's trailing sample reads it."""
        return read_parquet_or_empty(
            self.spark, self._table_path(), self._TABLE_SCHEMA
        ).dropDuplicates(["vec_id"])

    def table(self) -> DataFrame:
        """The searchable assigned corpus (vec_id, v, nrm, cell, pq) —
        the same columns ``ann.materialized_index`` writes. Replayed
        appends duplicate identical rows (the model is fixed), so any
        winner per vec_id is correct."""
        return self._table_raw().select("vec_id", "v", "nrm", "cell", "pq")

    def stats(self) -> DataFrame:
        return read_parquet_or_empty(
            self.spark, self.stats_path, _STATS_SCHEMA
        ).dropDuplicates(["batch"])

    def drifted_batches(self) -> list[int]:
        """Batches whose mean assignment cosine fell more than
        ``drift_tolerance`` below the trailing mean of the PRIOR
        non-model batches — retrain flags. The model batch is excluded
        from the baseline (its rows are the training sample, so its fit
        is optimistically biased), and the first non-model batch
        bootstraps the baseline unflagged. Only the CURRENT model
        version's stats participate — a ``retrain()`` resets the
        baseline (rows from the old geometry say nothing about the
        new); pre-versioning rows (null ver) read as version 1."""
        cur = self.model_version()
        rows = sorted(
            (
                r
                for r in self.stats().collect()
                if (r["ver"] if r["ver"] is not None else 1) == cur
            ),
            key=lambda r: r["batch"],
        )
        flagged: list[int] = []
        seen: list[float] = []
        for r in rows:
            if r["is_model_batch"]:
                continue
            if seen and r["mean_assign_cos"] < (
                sum(seen) / len(seen) - self.drift_tolerance
            ):
                flagged.append(r["batch"])
            else:
                # only in-distribution batches extend the baseline — a
                # drifted batch must not drag the reference down toward
                # the drifted level
                seen.append(r["mean_assign_cos"])
        return flagged

    # -- per-batch maintenance ---------------------------------------------
    def process_batch(self, vecs: DataFrame, batch_id: int = 0) -> None:
        """Assign + encode ``vecs`` (vec_id, embedding) against the fixed
        model (training it on the first batch), append to the store,
        record the drift statistic."""
        from hoard_spark.ann import (
            assign_cells,
            centroid_sims,
            encode_pq,
            normalized,
            sample_units,
            train_centroids,
            train_pq_codebooks,
        )

        n = normalized(vecs, persist=False)
        model = self.model()
        # is_model_batch derives from the batch id recorded in the model
        # sidecar, NOT from "no model yet": a crash between the model
        # write and the checkpoint commit replays the training batch with
        # a non-None model, and the replayed stats row must carry the
        # original flag or the drift baseline absorbs the optimistically-
        # biased training fit (ADVICE r10).
        is_model_batch = model is None or self.model_batch_id() == batch_id
        if model is None:
            X = sample_units(n)
            cents = train_centroids(n, k=self.k, X=X)
            books = train_pq_codebooks(n, m=self.m, ks=self.ks, X=X)
            rows = [("cent", i, 0, v) for i, v in cents] + [
                ("book", j, c, cw)
                for j, bj in enumerate(books)
                for c, cw in enumerate(bj)
            ] + [("meta", int(batch_id), 0, []), ("ver", 1, 0, [])]
            # repartition(1), not coalesce(1): see ann.materialized_index
            self.spark.createDataFrame(
                rows, schema=_MODEL_SCHEMA
            ).repartition(1).write.mode("overwrite").parquet(self.model_path)
            self._model = (cents, books)
            self._model_batch = int(batch_id)
            self._model_version = 1
        else:
            cents, books = model

        enc = encode_pq(assign_cells(n, cents), books).select(
            "vec_id", "v", "nrm", "cell", "pq"
        )
        # Guard the append-only store invariant (ADVICE r10, mirroring the
        # containment store's fingerprint guard): a vec_id already in the
        # store may only be re-ingested byte-identically (a replay). A
        # DIFFERENT embedding under an existing vec_id would leave
        # table()'s dropDuplicates to pick a nondeterministic winner.
        # The check semi-joins the store against only this batch's ids,
        # so a normal only-adds-vectors batch compares an empty frame.
        prev = self._table_raw().join(
            enc.select("vec_id").distinct(), "vec_id", "left_semi"
        )
        conflicts = [
            r["vec_id"]
            for r in prev.alias("s")
            .join(enc.alias("b"), "vec_id")
            .where(
                (F.col("s.cell") != F.col("b.cell"))
                | (F.col("s.pq") != F.col("b.pq"))
                | (F.col("s.nrm") != F.col("b.nrm"))
                | (F.col("s.v") != F.col("b.v"))
            )
            .select("vec_id")
            .limit(5)
            .collect()
        ]
        if conflicts:
            raise ValueError(
                "AnnIndexStore: vec_ids re-ingested with a different "
                f"embedding than the store holds: {conflicts} — the index "
                "store is append-only; only byte-identical replays of an "
                "existing vec_id are allowed (re-key changed vectors)"
            )
        enc.withColumn("b", F.lit(int(batch_id))).write.mode(
            "append"
        ).parquet(self._table_path())

        # drift statistic over what was just written (reread the batch's
        # rows via the lineage — one tiny agg job, no store scan).
        # Idempotent per batch: a replay whose stats row already exists
        # skips the append, so stats() never holds two rows for one batch
        # (ADVICE r10 — dropDuplicates would pick nondeterministically).
        if (
            read_parquet_or_empty(self.spark, self.stats_path, _STATS_SCHEMA)
            .where(F.col("batch") == int(batch_id))
            .limit(1)
            .count()
            > 0
        ):
            return
        stat = enc.select(
            F.element_at(
                centroid_sims(cents), F.col("cell") + 1
            ).alias("_c")
        ).agg(
            F.count("*").alias("n_rows"),
            F.avg("_c").alias("mean_assign_cos"),
        )
        stat.select(
            F.lit(batch_id).cast("long").alias("batch"),
            "n_rows",
            "mean_assign_cos",
            F.lit(is_model_batch).alias("is_model_batch"),
            F.lit(self.model_version()).cast("int").alias("ver"),
        ).repartition(1).write.mode("append").parquet(self.stats_path)

    # -- retrain -----------------------------------------------------------
    def retrain(self, trailing_batches: "int | None" = None) -> int:
        """The drift trigger's completion (VERDICT r10 item 7): retrain
        the IVF centroids + PQ codebooks on a bounded sample of the
        store, re-encode the WHOLE store against the new model with the
        same map-side assign+encode pass the batch index uses, and
        publish both as version ``current + 1``.

        Deliberately an EXPLICIT operation, not a mid-stream side
        effect: retraining changes cell geometry under the index's
        readers, so the operator runs it when ``drifted_batches()``
        flags (pause stream → retrain → resume, or between triggers).

        - ``trailing_batches``: sample only rows admitted by the most
          recent N batches (the drift is recent by definition); None
          samples the whole store. Either way the training collect is
          bounded by ``ann.sample_units``'s cap.
        - Crash-safety: the re-encoded table is written to the NEW
          version's path first; the model sidecar (whose ``ver`` row is
          what readers resolve the table path through) is replaced
          last, so a crash in between leaves the store consistently on
          the old version and a rerun regenerates deterministically.
        - The drift baseline resets: stats rows carry the model version
          and ``drifted_batches()`` only reads the current version's.

        Returns the new version number.
        """
        from hoard_spark.ann import (
            assign_cells,
            encode_pq,
            sample_units,
            train_centroids,
            train_pq_codebooks,
        )

        tab = self._table_raw().persist()
        try:
            if tab.limit(1).count() == 0:
                raise ValueError("AnnIndexStore.retrain: empty store")
            sub = tab
            if trailing_batches is not None:
                max_b = tab.agg(F.max("b")).first()[0] or 0
                sub = tab.where(
                    F.coalesce(F.col("b"), F.lit(0))
                    > max_b - int(trailing_batches)
                )
            n = sub.select("vec_id", "v", "nrm")
            X = sample_units(n)
            cents = train_centroids(n, k=self.k, X=X)
            books = train_pq_codebooks(n, m=self.m, ks=self.ks, X=X)
            new_ver = self.model_version() + 1
            # map-side re-encode of the full store against the NEW model
            # (drop the old cell/pq, keep the admitting batch id)
            encode_pq(
                assign_cells(tab.select("vec_id", "v", "nrm", "b"), cents),
                books,
            ).select("vec_id", "v", "nrm", "cell", "pq", "b").write.mode(
                "overwrite"
            ).parquet(self._table_path(new_ver))
        finally:
            tab.unpersist()
        rows = [("cent", i, 0, v) for i, v in cents] + [
            ("book", j, c, cw)
            for j, bj in enumerate(books)
            for c, cw in enumerate(bj)
        ] + [("meta", -1, 0, []), ("ver", new_ver, 0, [])]
        self.spark.createDataFrame(
            rows, schema=_MODEL_SCHEMA
        ).repartition(1).write.mode("overwrite").parquet(self.model_path)
        self._model = (cents, books)
        self._model_batch = -1
        self._model_version = new_ver
        return new_ver

    def maintain(
        self,
        min_flagged: int = 1,
        trailing_batches: "int | None" = None,
    ) -> "int | None":
        """Connect the drift trigger to the retrain path (VERDICT r11
        missing-item #3): if at least ``min_flagged`` batches of the
        CURRENT model version are drift-flagged, run :meth:`retrain`
        and return the new version; otherwise do nothing and return
        None.

        Policy knobs, because auto-retraining mid-stream is an
        operational decision, not a default:

        - ``min_flagged`` — how many flagged batches before acting
          (``>1`` rides out a single anomalous batch; the flag list
          only grows until a retrain resets the baseline, so a real
          shift accumulates flags monotonically).
        - ``trailing_batches`` — forwarded to :meth:`retrain`: sample
          the new model only from the most recent N batches (the
          drifted distribution) instead of the whole store.

        Call it BETWEEN triggers (e.g. after each ``availableNow``
        drain, or from the operator's cadence of choice) — never from
        inside ``process_batch``: retraining swaps cell geometry under
        the index's readers, and the crash-consistent version swap in
        :meth:`retrain` assumes no concurrent appends to the table.
        Idempotent in the fixpoint sense: after a retrain the baseline
        resets to the new version's stats, so an immediate second
        ``maintain()`` sees zero flags and no-ops.
        """
        if len(self.drifted_batches()) < int(min_flagged):
            return None
        return self.retrain(trailing_batches=trailing_batches)
