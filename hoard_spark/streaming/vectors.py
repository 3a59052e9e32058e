"""Streaming incremental embedding near-dup (hyperplane signature store).

The batch ANN family (q38/q39/q47/q91/q93) answers "which vectors in
THIS corpus are near-dups / neighbors"; an embedding ingest pipeline
needs the online twin: *as embedded content streams in, which items
duplicate something already accepted?* ``VectorDupIndex`` is the
hyperplane kind of the banded dedup store (``streaming/banded.py``,
which owns the store, band join, verify and append, and states their
measured cost and replay semantics; the MinHash kind is
``streaming/neardup.py``):

1. each batch vector gets a 64-bit random-hyperplane (SimHash)
   signature — one codegen projection over literal md5-derived
   hyperplanes (``hoard_spark.ann.hyperplanes`` / ``lsh_signature``);
   the store keeps ONE 16-byte row (vec_id, sig) per accepted vector,
   never the raw embedding,
2. candidates meet through 8 bands x 8 bits (band extraction is a mask
   projection of the stored long — `(sig >> 8k) & 255`; the arithmetic
   shift's sign fill is masked off, so bit 63 is safe),
3. verification needs no raw vectors: the fraction of agreeing
   signature bits estimates the angle (Charikar, STOC 2002:
   P[bit agrees] = 1 - theta/pi), so
   ``est_cos = cos(pi * (1 - agree))`` comes straight from
   ``bit_count(sig_a ^ sig_b)`` — the exact analog of estimating
   Jaccard from MinHash agreement. An exact clone has a bit-identical
   signature: agree = 1, est_cos = 1.0 exactly.

With 64 bits the estimator's s.e. is ~sqrt(p(1-p)/64) ≈ 0.04 around
p = 0.9 — coarse but exactly what dup detection needs (the decision
boundary sits at near-dup similarity, not at weak-similarity kNN, which
stays with the IVF paths — see ``ann.search_lsh``'s positioning note).

No reference analog (src/hoard.coffee is a metrics store); declared as
a round-8 streaming extension of the ANN family.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hoard_spark.ann import hyperplanes, lsh_signature
from hoard_spark.streaming.banded import BandedDupStore

_H = 64
_BANDS = 8
_BAND_BITS = _H // _BANDS

_SIG_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("sig", T.LongType()),
    ]
)


def vector_signatures(
    vecs: DataFrame, dim: int, seed: int = 7
) -> DataFrame:
    """(vec_id, embedding, …) → (vec_id, sig): the 64-bit hyperplane
    signature as one codegen projection (no shuffle, no training)."""
    v = F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    planes = hyperplanes(dim, h=_H, seed=seed)
    return vecs.select(F.col("vec_id"), v.alias("v")).select(
        "vec_id", lsh_signature(planes, "v").alias("sig")
    )


def bands_of(sigs: DataFrame) -> DataFrame:
    """(vec_id, sig) → (vec_id, band_id, band_val): 8 bands x 8 bits.
    `(sig >> 8k) & 255` — the mask discards the arithmetic shift's sign
    fill, so the extraction is exact for all 64 bits."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(F.col("sig"), b * _BAND_BITS)
                .bitwiseAND(F.lit((1 << _BAND_BITS) - 1))
                .alias("band_val"),
            )
            for b in range(_BANDS)
        ]
    )
    return sigs.select("vec_id", F.explode(bands).alias("band")).select(
        "vec_id", "band.band_id", "band.band_val"
    )


def _est_cos() -> F.Column:
    """cos(pi * (1 - bit-agreement)) over (sig_a, sig_b) — the Charikar
    angle estimate from stored bits alone; 1.0 exactly for identical
    signatures."""
    agree = (
        F.lit(_H) - F.expr("bit_count(sig_a ^ sig_b)")
    ).cast("double") / F.lit(float(_H))
    return F.cos(F.lit(math.pi) * (F.lit(1.0) - agree))


class VectorDupIndex(BandedDupStore):
    """Persistent hyperplane signature store + per-batch matcher for
    embedding streams. ``process_batch(vecs)`` over (vec_id, embedding)
    is a ``foreachBatch`` body; ``sink(stream)`` wires it to a streaming
    query."""

    id_col = "vec_id"
    sig_schema = _SIG_SCHEMA
    band_key = "band_val"
    est_col = "est_cos"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        dim: int,
        threshold: float = 0.92,
        seed: int = 7,
    ):
        self.dim = dim
        self.seed = seed
        super().__init__(spark, path, threshold)

    def _signatures(self, vecs: DataFrame) -> DataFrame:
        return vector_signatures(vecs, self.dim, seed=self.seed)

    _bands = staticmethod(bands_of)
    _estimate = staticmethod(_est_cos)
