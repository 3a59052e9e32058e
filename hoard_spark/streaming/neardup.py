"""Streaming incremental near-dup detection (MinHash signature store).

The batch near-dup family (q35/q36/q47) answers "which pairs in THIS
corpus are near-dups"; a training-data ingest pipeline needs the online
twin: *as documents stream in, which ones duplicate something already
accepted?* ``NearDupIndex`` is the MinHash kind of the banded dedup
store (``streaming/banded.py``, which owns the store, band join, verify
and append, and states their measured cost and replay semantics):

1. a batch doc's signature is 128 MinHash MIN aggregates over its word
   3-gram shingle rows — no arrays, no Python. The 128-field aggregate
   is over ``spark.sql.codegen.maxFields`` (100), so it is NOT
   whole-stage codegen'd (0 of 2 ``HashAggregate`` nodes in a probe with
   AQE off); reshaping it is ROADMAP direction 3,
2. 32 LSH bands of 4 slots each, ``band_hash`` = xxhash64 over the band's
   slots — a projection of the stored signature array, so the store
   parquet stays one ~1 KB row (128 longs) per accepted doc,
3. the fraction of equal MinHash positions is an unbiased Jaccard
   estimate, so ``est_jaccard >= threshold`` needs no re-shingling of
   old docs (the store never keeps raw text).

No reference analog (src/hoard.coffee:181-393 is a metrics store with no
text/dedup surface); declared as round-3 streaming+pipeline extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hoard_spark.functions import split_words
from hoard_spark.streaming.banded import BandedDupStore

_PERMS = 128
_BANDS = 32
_ROWS = _PERMS // _BANDS

_SIG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sig", T.ArrayType(T.LongType())),
    ]
)


def shingle_rows_of(docs: DataFrame, width: int = 3) -> DataFrame:
    """(doc_id, text, …) → one row per distinct word-``width``-gram
    (doc_id, s).

    Same shuffle-free zip-slice shape as the batch family (arrays_zip of
    ``width`` shifted slices + one explode — no token-shuffle window;
    see hoard_spark/queries/llm.py::shingle_rows_of, r13) but over an
    arbitrary (doc_id, text) frame instead of the sf_dir table.
    ``width`` is the saturated-domain scale knob (the batch family's
    shingle_rows_of doc explains the V^width df argument).
    """
    toks = split_words()
    cnt = F.size(toks) - (width - 1)
    zipped = F.arrays_zip(*[F.slice(toks, 1 + i, cnt) for i in range(width)])
    return (
        docs.where(F.size(toks) >= width)
        .select("doc_id", F.explode(zipped).alias("_z"))
        .select(
            "doc_id",
            F.concat_ws(
                " ", *[F.col("_z")[str(i)] for i in range(width)]
            ).alias("s"),
        )
        .distinct()
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, text, …) → (doc_id, sig array<long>[128]).

    128 MIN aggregates over the shingle rows, packed into one array
    column — the storable form of the batch family's signature. At 128
    fields the aggregate exceeds ``spark.sql.codegen.maxFields`` (100)
    and runs without whole-stage codegen (ROADMAP direction 3). Docs
    with <3 tokens have no shingles and yield no signature (they cannot
    near-dup by this measure).
    """
    rows = shingle_rows_of(docs)
    mins = rows.groupBy("doc_id").agg(
        *[
            F.min(F.expr(f"xxhash64(s, {p})")).alias(f"m{p}")
            for p in range(_PERMS)
        ]
    )
    return mins.select(
        "doc_id", F.array(*[f"m{p}" for p in range(_PERMS)]).alias("sig")
    )


def bands_of(sigs: DataFrame) -> DataFrame:
    """(doc_id, sig) → (doc_id, band_id, band_hash): 32 bands x 4 rows,
    band_hash = xxhash64 over the band's 4 signature slots. A pure
    projection + explode — derivable identically from a fresh batch or
    the parquet store."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(
                    *[
                        F.element_at("sig", b * _ROWS + r + 1)
                        for r in range(_ROWS)
                    ]
                ).alias("band_hash"),
            )
            for b in range(_BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(bands).alias("band")).select(
        "doc_id", "band.band_id", "band.band_hash"
    )


def _est_jaccard() -> F.Column:
    """Fraction of equal MinHash positions between sig_a and sig_b —
    an unbiased estimate of Jaccard(a, b). Runs only on the (few)
    band-join candidates, so the interpreted zip_with is off the hot
    path."""
    eq = F.zip_with(
        "sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)
    )
    return F.aggregate(
        eq, F.lit(0), lambda acc, v: acc + v
    ).cast("double") / F.lit(float(_PERMS))


class NearDupIndex(BandedDupStore):
    """Persistent MinHash signature store + per-batch incremental matcher.

    ``process_batch(docs)`` over (doc_id, text) is directly usable as a
    ``foreachBatch`` body; ``sink(stream)`` wires it to a streaming query.
    """

    id_col = "doc_id"
    sig_schema = _SIG_SCHEMA
    band_key = "band_hash"
    est_col = "est_jaccard"

    def __init__(
        self, spark: SparkSession, path: str, threshold: float = 0.7
    ):
        super().__init__(spark, path, threshold)

    def _signatures(self, docs: DataFrame) -> DataFrame:
        return minhash_signatures(docs)

    _bands = staticmethod(bands_of)
    _estimate = staticmethod(_est_jaccard)
