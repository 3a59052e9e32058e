"""Corpus curation pipeline — the library-level, DataFrame-native API.

The conformance queries (``hoard_spark.queries.llm``) are fixed
``(spark, sf_dir)`` shapes for the oracle gate; this module exposes the
same near-dup machinery as composable functions over ANY documents
DataFrame (``doc_id, text, lang, source, n_chars`` — e.g. from
``hoard_spark.sources.documents.read_documents``), so a user can run
the dedup end-game — pairs → clusters → canonical pick → filtered
corpus — as one call on their own data.

Scale discipline (identical to the query twins, VERDICT r2):
- candidates come ONLY from the (band_id, band_hash) equi-join on
  MinHash bands — never an all-pairs crossJoin;
- signatures are one shuffle (128 MIN aggs over shingle rows; at 128
  fields the aggregate exceeds ``spark.sql.codegen.maxFields`` and is not
  whole-stage codegen'd — ROADMAP direction 3);
- connected components run min-label propagation with pointer doubling:
  O(log diameter) rounds, each edge-linear — no driver-side adjacency
  state;
- every intermediate that two plans read is persisted via
  ``track_cache`` (the InMemoryRelation barrier that stops Catalyst
  from inlining the signature build into both sides of the pair join).
  Call ``hoard_spark.queries.release_caches()`` when done.

No reference analog (the reference is a time-series store,
src/hoard.coffee); this is the training-data curation surface the
engine adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hoard_spark.functions import split_words
from hoard_spark.queries import track_cache
from hoard_spark.queries.llm import _minhash_bands, shingle_rows_of


def neardup_pairs(docs: DataFrame, threshold: float = 0.7) -> DataFrame:
    """Near-duplicate pairs (a_id < b_id, exact Jaccard >= threshold).

    MinHash-LSH candidate generation + exact verify on candidates only
    (the q35 plan, parameterized over the input corpus). Output:
    (a_id, b_id, jaccard).
    """
    rows = track_cache(shingle_rows_of(docs).select("doc_id", "s"))
    bands = _minhash_bands(rows)
    a = bands.select(F.col("doc_id").alias("a_id"), "band_id", "band_hash")
    b = bands.select(F.col("doc_id").alias("b_id"), "band_id", "band_hash")
    cands = (
        a.join(b, ["band_id", "band_hash"], "inner")
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    ra = rows.select(F.col("doc_id").alias("a_id"), "s")
    rb = rows.select(F.col("doc_id").alias("b_id"), "s")
    inter = (
        cands.join(ra, "a_id")
        .join(rb, ["b_id", "s"], "inner")
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("inter"))
    )
    sizes = rows.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    na = sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("nb"))
    jac = F.col("inter").cast("double") / (
        (F.col("na") + F.col("nb")).cast("double") - F.col("inter")
    )
    return (
        inter.join(na, "a_id")
        .join(nb, "b_id")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def cluster_assignments(
    pairs: DataFrame, max_iters: int = 20, driver_max_edges: int = 500_000
) -> DataFrame:
    """Connected components over a pair graph: min-label propagation with
    pointer doubling.

    Input: (a_id, b_id) pairs. Output: (doc_id, cluster_id) for every
    doc that appears in at least one pair; cluster_id = min doc_id of
    the component (deterministic, engine-independent — the fixpoint is
    unique regardless of iteration schedule).

    Small-graph fast path: near-dup pair graphs are usually TINY next
    to their corpus (the sf0.1 corpus yields 256 pairs), and every
    pointer-doubling round costs ~3 Spark jobs — for a bounded edge
    count the whole problem collapses to one collect + driver-side
    union-find producing the identical min-label fixpoint. The cap is
    the same capped-collect-with-distributed-fallback discipline as the
    engine's fetch fast path: over ``driver_max_edges`` (or with the
    cap set <= 0) the fully distributed rounds below run unchanged.

    Each round combines one hop of neighbor-min propagation with a label
    shortcut ``l <- min(l, l(l(v)))`` (labels are always node ids of the
    same component, so they can be followed like parent pointers). The
    distance a label can travel SQUARES per round, so rounds =
    O(log diameter) instead of O(diameter) (VERDICT r3/r4 item 6). Every
    round stays edge-linear and fully distributed: one edge join + one
    groupBy + one label self-join, no driver-side adjacency.

    Iterative DataFrame algorithms MUST truncate lineage each round —
    otherwise the logical plan nests one level per iteration and
    Catalyst's per-action analysis cost grows geometrically even when
    every parent is cached (measured: 25 s -> 1.5 s for a 2-round run at
    sf0.01). ``localCheckpoint(eager=True)`` materializes the round and
    cuts the plan; on a real cluster with executor loss concerns, set a
    checkpoint dir and swap in reliable ``checkpoint()`` (same shape —
    GraphFrames checkpoints its CC every few rounds for the same reason).
    """
    if driver_max_edges > 0:
        head = pairs.select("a_id", "b_id").limit(
            driver_max_edges + 1
        ).collect()
        if len(head) <= driver_max_edges:
            # union-find with path compression + union-by-min: the root
            # of each set is its minimum member, so find(v) IS the
            # min-label fixpoint the distributed rounds converge to
            parent: dict = {}

            def find(v):
                r = v
                while parent.get(r, r) != r:
                    r = parent[r]
                while parent.get(v, v) != v:
                    parent[v], v = r, parent[v]
                return r

            for row in head:
                a, b = find(row["a_id"]), find(row["b_id"])
                if a != b:
                    lo, hi = (a, b) if a < b else (b, a)
                    parent[hi] = lo
            out = sorted(
                {
                    v
                    for row in head
                    for v in (row["a_id"], row["b_id"])
                }
            )
            return pairs.sparkSession.createDataFrame(
                [(int(v), int(find(v))) for v in out],
                "doc_id long, cluster_id long",
            )

    edges = (
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("b_id").alias("src"), F.col("a_id").alias("dst")
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("lbl", F.col("doc_id"))
    )
    for _ in range(max_iters):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("dst"), F.col("lbl").alias("dlbl")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dlbl").alias("nlbl"))
            .withColumnRenamed("src", "doc_id")
        )
        # one-hop label: m1 = min(own, neighbors'); checkpointed because
        # the pointer-jump self-join reads it from both sides
        hop = (
            labels.join(nbr_min, "doc_id", "left")
            .select(
                "doc_id",
                "lbl",
                F.least("lbl", F.coalesce("nlbl", F.col("lbl"))).alias("m1"),
            )
            .localCheckpoint(eager=True)
        )
        # pointer jump: follow m1 through this same round's mapping —
        # new = min(m1, m1(m1(v))). m1 values are node ids, so the
        # lookup side is just `hop` re-keyed.
        jump = hop.select(
            F.col("doc_id").alias("m1"), F.col("m1").alias("jlbl")
        )
        stepped = (
            hop.join(jump, "m1", "left")
            .select(
                "doc_id",
                "lbl",
                F.least("m1", F.coalesce("jlbl", F.col("m1"))).alias(
                    "new_lbl"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = stepped.where(F.col("new_lbl") < F.col("lbl")).count()
        labels = stepped.select("doc_id", F.col("new_lbl").alias("lbl"))
        if changed == 0:
            break
    return labels.select(
        "doc_id", F.col("lbl").cast("long").alias("cluster_id")
    )


def dedup_corpus(
    docs: DataFrame,
    threshold: float = 0.7,
    clusters: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One-call near-dup dedup: returns ``(kept, dropped)``.

    ``kept`` is ``docs`` minus the non-canonical members of every
    near-dup cluster (canonical = highest token count, ties to lowest
    doc_id — keep the most complete copy). ``dropped`` is the audit
    trail: (doc_id, cluster_id, canonical_doc) for each removed doc.

    Pass ``clusters`` (a (doc_id, cluster_id) table, e.g. one
    materialized per corpus version via ``hoard_spark.artifacts``) to
    skip recomputing the LSH→CC pipeline — the persisted-cluster-table
    composition q67 uses.

    The drop set is cluster-members-only (≪ corpus), so the final
    filter is a broadcast-able left_anti join — the corpus streams
    through it map-side at any scale.
    """
    from pyspark.sql import Window

    if clusters is None:
        clusters = cluster_assignments(neardup_pairs(docs, threshold))
    ntok = docs.select(
        "doc_id",
        F.size(split_words()).alias("n_tok"),
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_tok"), "doc_id")
    ranked = track_cache(
        clusters.join(ntok, "doc_id").select(
            "doc_id",
            "cluster_id",
            F.row_number().over(w).alias("rk"),
            F.first("doc_id").over(w).alias("canonical_doc"),
        )
    )
    dropped = ranked.where(F.col("rk") > 1).select(
        "doc_id", "cluster_id", "canonical_doc"
    )
    kept = docs.join(
        F.broadcast(dropped.select("doc_id")), "doc_id", "left_anti"
    )
    return kept, dropped
