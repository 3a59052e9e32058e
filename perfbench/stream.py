"""The ``stream`` phase: LLM-dedup streaming stores.

The corpus's documents and embeddings go through ``NearDupIndex`` and
``VectorDupIndex``. Set-up: the whole input as one
batch through throwaway stores, which is both the warm-up and the
reference for the checks. Timed: the input split by a seeded permutation
into ``BATCHES`` equal micro-batches through fresh stores, all stores
compacted every ``COMPACT_EVERY`` batches. The first micro-batch goes
into empty stores and is slower, so the batch wall reported is the
median over the later ones.

Checked outside the timing: compaction leaves each store's rows
unchanged, and the micro-batched near-dup and vector-dup pairs, as
unordered pairs, equal the whole-input batch's.
"""

from __future__ import annotations

import collections

from perfbench import gen
from perfbench.layers import mean, ms, spark_scope_metrics
from perfbench.stats import median

BATCHES = 3
COMPACT_EVERY = 3
# The stores hold about ten files each after three batches of this
# corpus; the default target (32 files) would skip them, so compact to two.
COMPACT_TARGET_FILES = 2
STORES = ("neardup", "vectors")


def _stores(spark, root: str) -> dict:
    from hoard_spark.streaming.neardup import NearDupIndex
    from hoard_spark.streaming.vectors import VectorDupIndex

    return {
        "neardup": NearDupIndex(spark, f"{root}/neardup", threshold=0.7),
        "vectors": VectorDupIndex(spark, f"{root}/vectors", dim=gen.DIM, threshold=0.92),
    }


def _outputs(stores: dict) -> dict:
    """Each store's user-facing output."""
    return {name: store.matches() for name, store in stores.items()}


def _contents(stores: dict) -> dict:
    """Each store's rows: its index and its output, as multisets."""
    views = {
        name: (store.signatures(), store.matches()) for name, store in stores.items()
    }
    return {
        name: [collections.Counter(_row(r) for r in df.collect()) for df in dfs]
        for name, dfs in views.items()
    }


def _row(r) -> tuple:
    return tuple(tuple(v) if isinstance(v, list) else v for v in r)


def _pairs(rows) -> set:
    return {frozenset((r[0], r[1])) for r in rows}


def _install(tracer) -> None:
    from hoard_spark.streaming import compact
    from hoard_spark.streaming.neardup import NearDupIndex
    from hoard_spark.streaming.vectors import VectorDupIndex

    for name, cls in zip(STORES, (NearDupIndex, VectorDupIndex)):
        tracer.patch(cls, "process_batch", f"stream.{name}")
        tracer.patch(cls, "compact", "stream.compact")
    for name in ("compact_flat", "compact_partitioned"):
        tracer.patch(compact, name, "stream.compact_files")


def prepare(ctx) -> dict:
    """Reads the corpus the analytics phase generated; feeds it whole
    through throwaway stores, which warms every store's plans and gives
    the reference pairs."""
    spark = ctx.spark
    if ctx.tracer is not None:
        _install(ctx.tracer)
    data = ctx.tmp / "data"
    docs = spark.read.parquet(str(data / "documents.parquet")).select("doc_id", "text")
    vecs = spark.read.parquet(str(data / "embeddings.parquet")).select("vec_id", "embedding")
    n_docs, n_vecs = docs.count(), vecs.count()
    reference = _stores(spark, str(ctx.tmp / "reference"))
    for name, store in reference.items():
        store.process_batch(vecs if name == "vectors" else docs, batch_id=0)
    want = {k: [tuple(r) for r in df.collect()] for k, df in _outputs(reference).items()}
    doc_ids = gen.micro_batches(ctx.seed, n_docs, BATCHES)
    vec_ids = gen.micro_batches(ctx.seed + 1, n_vecs, BATCHES)
    return {
        "n_docs": n_docs,
        "n_vecs": n_vecs,
        "want": want,
        "doc_batches": [docs.where(docs.doc_id.isin(ids.tolist())) for ids in doc_ids],
        "vec_batches": [vecs.where(vecs.vec_id.isin(ids.tolist())) for ids in vec_ids],
    }


def measure(ctx, st: dict) -> dict:
    from hoard_spark.streaming.compact import store_file_count

    spark = ctx.spark
    stores = _stores(spark, str(ctx.tmp / "stores"))
    batch_walls, compact_walls = [], []
    files, compaction_ok = {}, []
    for b in range(BATCHES):
        wall = 0.0
        for i, (name, store) in enumerate(stores.items()):
            # a traced run traces each store in every other batch,
            # alternating which store goes first
            with ctx.op("batch", name, (b + i) % 2 == 0) as rec:
                rows = st["vec_batches" if name == "vectors" else "doc_batches"][b]
                store.process_batch(rows, batch_id=b)
            wall += rec["wall"]
        batch_walls.append(wall)
        if (b + 1) % COMPACT_EVERY == 0:
            files = {k: store_file_count(spark, s.path) for k, s in stores.items()}
            before = _contents(stores)
            with ctx.op("compact", "compact") as rec:
                for s in stores.values():
                    s.compact(target_files=COMPACT_TARGET_FILES)
            compact_walls.append(rec["wall"])
            after = _contents(stores)
            compaction_ok.extend((k, before[k] == after[k]) for k in STORES)
    files_after = {k: store_file_count(spark, s.path) for k, s in stores.items()}
    total_s = sum(batch_walls) + sum(compact_walls)
    outs = {k: [tuple(r) for r in df.collect()] for k, df in _outputs(stores).items()}

    failures = [f"{k}: compaction changed its rows" for k, ok in compaction_ok if not ok]
    for k in STORES:
        got, exp = _pairs(outs[k]), _pairs(st["want"][k])
        if got != exp:
            failures.append(f"{k}: {len(got)} pairs, whole-input batch {len(exp)}")
    # per store: each batch and its pair check; each compaction check
    attempted = len(STORES) * (BATCHES + 1) + len(compaction_ok)

    named = {
        "batch_p50_ms": {"value": ms(median(batch_walls[1:])), "unit": "ms", "n": BATCHES - 1},
        "stream_docs_per_s": {
            "value": (st["n_docs"] + st["n_vecs"]) / total_s, "unit": "rows/s", "n": 1
        },
        "pairs": {k: len(_pairs(st["want"][k])) for k in STORES},
        "samples_ms": {"batch": [ms(w) for w in batch_walls], "compact": [ms(w) for w in compact_walls]},
    }
    layers = {}
    if ctx.tracer is not None:
        layers = _layers(ctx.tracer, ctx.cores, files, files_after, compact_walls)
    return {
        "attempted": attempted,
        "failures": failures,
        "e2e": {"write_ms": named["batch_p50_ms"]["value"]},
        "named": named,
        "layers": layers,
    }


def _layers(tracer, cores: int, files: dict, files_after: dict, compact_walls: list) -> dict:
    traced = [o for o in tracer.ops if o["kind"] == "batch" and o["traced"]]
    out = {
        "stream.compact_ms": ms(mean(compact_walls)),
        "stream.files_after_compact": sum(files_after.values()),
    }
    for name in STORES:
        mine = [o for o in traced if o["scope"] == name]
        out[f"stream.{name}.batch_ms"] = ms(mean(o["wall"] for o in mine))
        out[f"stream.{name}.jobs_per_batch"] = mean(o["spark"]["jobs"] for o in mine)
        out[f"stream.{name}.files"] = files.get(name, 0)
    out.update(spark_scope_metrics(traced, cores))
    return out
