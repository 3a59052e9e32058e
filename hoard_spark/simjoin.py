"""Exact thresholded set-similarity join with prefix filtering.

The scale path for EXACT near-duplicate detection at a declared
threshold: the q37-style inverted-index join meets a doc pair once per
shared shingle, so its work is Σ_s df(s)² over ALL shingles. Prefix
filtering (Chaudhuri et al. SSJoin; Bayardo et al. "Scaling Up All
Pairs Similarity Search", WWW'07 — public literature) bounds that by
the threshold: order every doc's shingle set by a global frequency
order (rarest first) and emit only its first

    prefix(|s|) = |s| − ⌈t·|s|⌉ + 1

shingles as join keys. Two sets with Jaccard ≥ t must overlap in ≥
⌈t·max(|a|,|b|)⌉ elements, so under a SHARED total order their prefixes
must share at least one element — no qualifying pair is lost. Candidate
generation therefore costs Σ_s df_prefix(s)², which at t=0.8 touches
~1/5 of each posting list and kills the Zipf head (frequent shingles
sort LAST and rarely make a prefix). On top of the prefix bound, each
meeting also passes the length filter (SSJoin) and the positional
filter (PPJoin, Xiao et al. WWW'08) — both ride the posting join as
codegen predicates, shrinking the candidate set before the distinct.

Verification is exact and pair-local: candidates fetch both docs'
shingle arrays (two hash joins on doc_id; arrays are doc-sized, i.e.
KB) and compute |a∩b| with ``array_intersect`` JVM-side — no second
pass over posting lists, no driver involvement.

Why q37 itself cannot use this: its contract is GLOBAL top-10 with no
threshold, and the corpus's 10th-best Jaccard is noise-level (measured:
0.018 at sf0.01, 0.046 at sf0.1), so any prefix length that prunes
would also prune members of the answer. Prefix filtering is a
thresholded-join tool; the top-k twin keeps the full posting join + AQE
skew handling. For corpora whose top-k IS above noise — the common
case in near-dup-rich training data — ``topk_similar_pairs`` runs a
descending threshold ladder of prefix-filtered rungs and returns the
EXACT top-k the moment a rung yields >= k pairs; it raises at the
ladder floor instead of silently degrading to the unpruned join.

No reference analog (src/hoard.coffee has no similarity surface); this
is part of the training-data curation family (SURVEY.md §2C).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hoard_spark.cache import track_cache, untrack_cache


def _dround(col: Column, n: int = 4) -> Column:
    """Boundary-stable ROUND (see queries/__init__.dround): similarity
    ratios are small-integer quotients whose doubles sit on 4dp midpoints
    (e.g. 159/160 = 0.99375); Spark rounds the shortest-decimal rendering
    while DuckDB rounds the exact binary expansion, so plain double ROUND
    can disagree between engines. Routing through DECIMAL(25,10) makes
    both recover the intended decimal before the (half-away-from-zero)
    decimal round. Oracle twin:
    ``CAST(ROUND(CAST(x AS DECIMAL(25,10)), 4) AS DOUBLE)``."""
    return F.round(col.cast("decimal(25,10)"), n).cast("double")


def _prefix_bound(threshold: float, n: Column) -> Column:
    """``n - ceil(t*n) + 1`` with epsilon slack INSIDE the ceil: t*n is
    inexact in binary (the double for t may sit a hair above the intended
    decimal), and an unslacked ceil coming out one high would SHORTEN the
    prefix below the no-false-negative bound for pairs exactly at the
    threshold. Subtracting 1e-9 first means the prefix can only err
    longer — extra candidates just pay the verify."""
    return n - F.ceil(F.lit(threshold) * n - F.lit(1e-9)) + 1


RANK_COLS = ("_df", "_r", "_n")


def rank_shingle_rows(
    shingles: DataFrame,
    doc_col: str = "doc_id",
    set_col: str = "s",
    block: list[str] | None = None,
    keep: list[str] | None = None,
) -> DataFrame:
    """Attach the prefix-filter rank columns to distinct (doc, shingle)
    rows: ``_df`` (document frequency of the shingle — per ``block`` if
    given), ``_r`` (the shingle's 1-based rank inside its doc's set under
    the shared rarest-first total order ``(_df, s)``), ``_n`` (the doc's
    set size). ``keep`` passes extra columns through untouched.

    These columns are INTRINSIC to (the doc's own rows, the global
    order): adding or removing OTHER docs never changes a doc's ``_r`` /
    ``_n``, and any single ``_df`` value per distinct shingle keeps the
    order total and shared. That makes the ranked table materializable
    per corpus (the shingle artifact stores it), and lets an augmented
    corpus re-rank only its NEW docs while base docs reuse stored ranks
    — ``jaccard_similarity_join`` / ``containment_join`` skip this whole
    stage when the rank columns are already present.

    The df side is a groupBy + join rather than a ``count() over
    (partition by s)`` window: a window puts every row of one shingle in
    ONE task, so a Zipf-head shingle at 100 TB becomes a straggler,
    while the join formulation gets AQE skew splitting for free.

    If ``shingles`` already carries ``_df`` (e.g. rows filtered out of a
    previously ranked table, whose ``_r/_n`` are stale but whose order
    key is not), only the per-doc ranking window runs — the caller
    guarantees the carried ``_df`` is single-valued per shingle.
    """
    block = list(block or [])
    keep = list(keep or [])
    if "_df" in shingles.columns:
        ordered = shingles.select(doc_col, *block, *keep, set_col, "_df")
    else:
        sh = shingles.select(doc_col, *block, *keep, set_col)
        # Materialize before fanning out: the df aggregate AND the join
        # probe side both read ``sh``, and without this barrier the
        # caller's shingle build (posexplode + lead window + min-pos
        # aggregate) is INLINED INTO BOTH subtrees and executes twice —
        # visible as a duplicated Generate/Window chain under the
        # broadcast side of the executed plan. This is the cluster-
        # facing library path, so the barrier is a tracked persist
        # (recomputable on executor loss), not a localCheckpoint
        # (ADVICE r11 #3).
        sh = track_cache(sh)
        df_rank = sh.groupBy(*block, set_col).agg(
            F.count("*").alias("_df")
        )
        ordered = sh.join(df_rank, [*block, set_col])
    w_doc = Window.partitionBy(doc_col).orderBy("_df", set_col)
    return ordered.select(
        doc_col,
        *block,
        *keep,
        set_col,
        "_df",
        F.row_number().over(w_doc).alias("_r"),
        F.count("*").over(Window.partitionBy(doc_col)).alias("_n"),
    )


def jaccard_similarity_join(
    shingles: DataFrame,
    threshold: float,
    doc_col: str = "doc_id",
    set_col: str = "s",
    block: list[str] | None = None,
    keep_raw: bool = False,
    prune_verify: bool = False,
) -> DataFrame:
    """All pairs of docs with exact Jaccard(shingle sets) >= threshold.

    ``shingles``: one row per DISTINCT (doc, shingle), e.g.
    ``shingle_rows_of`` output. ``block``: optional equality columns
    (e.g. lang/source) that qualifying pairs must share — they join the
    candidate key, so df ranks are computed per block too.

    If ``shingles`` already carries the ``rank_shingle_rows`` columns
    (``_df/_r/_n`` — e.g. the materialized shingle artifact), the df
    aggregate + join + ranking window are SKIPPED: the prefix filter's
    exactness needs only a shared total order, which any single ``_df``
    per shingle provides (with ``block``, per-block df would be a
    slightly tighter heuristic, but the stored global order is equally
    exact — blocks still gate the candidate join keys).

    Output: ``a_id, b_id (a<b), inter, na, nb, jaccard`` — exact, every
    pair ≥ threshold, no false negatives (prefix-filter guarantee). The
    ``jaccard`` column is rounded to 4 decimals for presentation;
    ``keep_raw`` appends the unrounded ``_jaccard_raw`` for callers that
    rank on it (``topk_similar_pairs`` — rounding before ranking would
    reintroduce 5e-5-wide ties at rung boundaries).

    ``prune_verify=True`` PERSISTS the candidate-pair frame (the id
    broadcast and the final pair join must read one materialized
    instance) and registers it in the session cache registry: call
    ``hoard_spark.cache.release_caches()`` after the terminal action, or
    the cache lives until session end (ADVICE r9).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    block = list(block or [])
    sh = shingles.select(doc_col, *block, set_col)

    # Frequency order, rarest first; ties broken by the shingle value so
    # the order is total and identical for all docs. Precomputed rank
    # columns (the shingle artifact) skip the build entirely.
    if all(c in shingles.columns for c in RANK_COLS):
        ranked = shingles.select(doc_col, *block, set_col, "_r", "_n")
    else:
        ranked = rank_shingle_rows(
            shingles, doc_col=doc_col, set_col=set_col, block=block
        ).drop("_df")
    # prefix(|s|) = |s| - ceil(t*|s|) + 1 (epsilon-slacked, _prefix_bound)
    prefix = ranked.where(F.col("_r") <= _prefix_bound(threshold, F.col("_n")))

    a = prefix.select(
        F.col(doc_col).alias("a_id"), *block, set_col,
        F.col("_n").alias("_na"), F.col("_r").alias("_ra"),
    )
    b = prefix.select(
        F.col(doc_col).alias("b_id"), *block, set_col,
        F.col("_n").alias("_nb"), F.col("_r").alias("_rb"),
    )
    # Jaccard >= t  <=>  overlap >= t/(1+t) * (na+nb); keep the required
    # overlap as a float lower bound (>= ceil(x) relaxed to >= x - eps:
    # weaker, so never a false negative — extra candidates pay the verify).
    required = F.lit(threshold / (1.0 + threshold)) * (
        F.col("_na") + F.col("_nb")
    ) - F.lit(1e-9)
    cand = (
        a.join(b, [*block, set_col])
        .where(
            (F.col("a_id") < F.col("b_id"))
            # Length filter (Arasu/Chaudhuri SSJoin): J >= t implies
            # min(|a|,|b|)/max(|a|,|b|) >= t (since I <= min and
            # union >= max), so size-incompatible pairs are dropped at
            # the posting meeting itself — BEFORE the distinct and the
            # array verify — with no false negatives. On length-diverse
            # corpora this cuts candidates ~2-3x for free (it rides the
            # same join, no extra shuffle).
            # 1e-9 slack: t*n is inexact in binary (0.7*10 may round a
            # hair above 7), and a false NEGATIVE here would break
            # exactness; extra candidates just pay the verify.
            & (F.col("_na") >= F.lit(threshold) * F.col("_nb") - 1e-9)
            & (F.col("_nb") >= F.lit(threshold) * F.col("_na") - 1e-9)
            # Positional filter (PPJoin, Xiao et al. WWW'08): a meeting
            # on the token at 1-based rank _ra in a and _rb in b can
            # witness an overlap of at most 1 + min(na-_ra, nb-_rb)
            # (the token itself plus each side's suffix) PROVIDED no
            # earlier common token exists. For a qualifying pair the
            # meeting on its FIRST common token therefore always passes
            # (true overlap >= required), and the pair survives the
            # any-meeting-passes distinct below — later meetings may be
            # pruned freely, so this drops meetings and duplicate
            # candidates with zero false negatives, riding the same
            # join (no extra shuffle).
            & (
                F.lit(1)
                + F.least(
                    F.col("_na") - F.col("_ra"),
                    F.col("_nb") - F.col("_rb"),
                )
                >= required
            )
        )
        .select("a_id", "b_id")
        .distinct()
    )

    # Exact verify: doc-sized shingle arrays, JVM array_intersect.
    cand, sa, sb = _candidate_sets(sh, cand, doc_col, set_col, prune_verify)
    inter = F.size(F.array_intersect("_sa", "_sb"))
    jac = inter.cast("double") / (
        (F.col("na") + F.col("nb")).cast("double") - inter.cast("double")
    )
    cols = [
        F.col("a_id"),
        F.col("b_id"),
        inter.alias("inter"),
        F.col("na"),
        F.col("nb"),
        _dround(jac).alias("jaccard"),
    ]
    if keep_raw:
        cols.append(jac.alias("_jaccard_raw"))
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .where(jac >= threshold)  # unrounded — matches the SQL twin
        .select(*cols)
    )


def _candidate_sets(
    sh, cand, doc_col: str, set_col: str, prune: bool = False
):
    """Per-doc shingle arrays for the exact verify.

    ``prune=False`` (default): one corpus-wide collect_set — a single
    LINEAR shuffle partitioned by doc (never quadratic, never skewed
    beyond a doc's own size). Measured at sf0.1 this beats pruning ~2×:
    the corpus pass is one cheap shuffle, while pruning must materialize
    the candidate subtree synchronously (the id broadcast is a barrier)
    and re-scan the shingle rows.

    ``prune=True``: build arrays ONLY for docs that appear in a
    candidate pair — the candidate ids are persisted and semi-join the
    shingle rows before the collect_set. For candidate-SPARSE corpora at
    petabyte scale this replaces the full-corpus array shuffle (the
    dominant write) with candidate-proportional work at the price of one
    extra corpus scan; below that regime the default wins (measured,
    tools/bench_shingle_amortization.json, round 9)."""
    if prune:
        cand = track_cache(cand)  # id broadcast + pair join both read it
        ids = (
            cand.select(F.col("a_id").alias(doc_col))
            .unionByName(cand.select(F.col("b_id").alias(doc_col)))
            .distinct()
        )
        sh = sh.join(ids, doc_col, "left_semi")
    sets = sh.groupBy(doc_col).agg(
        F.collect_set(set_col).alias("_set"), F.count("*").alias("_n")
    )
    # cand is returned because prune=True replaces it with the PERSISTED
    # frame — the caller's final pair join must read the same instance
    # the id broadcast materialized, or the posting join runs twice
    sa = sets.select(
        F.col(doc_col).alias("a_id"),
        F.col("_set").alias("_sa"),
        F.col("_n").alias("na"),
    )
    sb = sets.select(
        F.col(doc_col).alias("b_id"),
        F.col("_set").alias("_sb"),
        F.col("_n").alias("nb"),
    )
    return cand, sa, sb


def prefix_length(set_size: int, threshold: float) -> int:
    """The prefix-filter bound, exposed for tests/diagnostics (same
    epsilon slack as ``_prefix_bound`` — err longer, never shorter)."""
    return set_size - math.ceil(threshold * set_size - 1e-9) + 1


def topk_similar_pairs(
    shingles: DataFrame,
    k: int,
    ladder: tuple[float, ...] = (0.7, 0.5, 0.3, 0.1),
    doc_col: str = "doc_id",
    set_col: str = "s",
    block: list[str] | None = None,
) -> DataFrame:
    """EXACT global top-k Jaccard pairs via a descending threshold
    ladder — the 100 TB answer to the q37-shaped contract.

    Each rung runs the prefix-filtered join at threshold t. The filter
    is COMPLETE at its threshold (no false negatives), so as soon as a
    rung yields >= k pairs, those pairs contain the exact global top-k
    — every pair not generated has Jaccard < t <= kth-best. Typical
    near-dup-rich corpora stop at the first rung at a fraction of the
    full posting join's Σ df(s)² cost; each failed rung costs only its
    (even more aggressively pruned) candidate pass.

    If even the last rung yields < k pairs, the corpus's kth-best
    similarity is below the ladder floor — i.e. the \"top-k\" is
    noise-level ties (the conformance corpus is exactly like this:
    10th-best ~0.02-0.05). The function then RAISES rather than
    silently paying the unpruned join: at scale that situation is a
    contract bug to surface, not a query to brute-force; callers who
    truly want noise-level top-k keep the q37 full-join form.

    The driver-side rung loop is a bounded count-job ladder (<=
    len(ladder) jobs), the same shape as ``skew_buckets=\"auto\"``.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if not ladder or any(not 0.0 < t <= 1.0 for t in ladder):
        raise ValueError(f"ladder must be thresholds in (0, 1]: {ladder}")
    # Rank on the UNROUNDED similarity: rung membership filters on the
    # unrounded value >= t, so ranking on the rounded display column
    # would leave a seam where a pair with true similarity 5e-5 below a
    # successful rung rounds into a tie with the kth-best yet was never
    # generated. Exactness is therefore with respect to the true
    # similarity; the output's `jaccard` stays 4-decimal for display.
    w_rank = Window.orderBy(
        F.desc("_jaccard_raw"), F.asc("a_id"), F.asc("b_id")
    )
    for t in sorted(set(ladder), reverse=True):
        # persist the rung's verified pairs: the count probe and the
        # final ranking are two actions over the same (tiny, >= t) pair
        # table, and without the cache the rung's whole posting-join
        # pipeline would run twice (measured ~25% of q90 at sf0.1)
        pairs = track_cache(
            jaccard_similarity_join(
                shingles, t, doc_col=doc_col, set_col=set_col,
                block=block, keep_raw=True,
            )
        )
        # candidate-sized; one count job per rung decides descent
        if pairs.limit(k + 1).count() >= k:
            # the global Window is safe here: its input is the top-k+
            # candidate set (pairs >= t), not the corpus
            return (
                pairs.withColumn("_rk", F.row_number().over(w_rank))
                .where(F.col("_rk") <= k)
                .drop("_rk", "_jaccard_raw")
                .orderBy(F.desc("jaccard"), "a_id", "b_id")
            )
        # failed rung — free it AND drop it from the cache registry
        # before descending (a library caller may never call
        # release_caches; dead entries must not accumulate there)
        untrack_cache(pairs)
    raise ValueError(
        f"fewer than k={k} pairs at the ladder floor "
        f"{min(ladder)}: the corpus's top-k similarity is below every "
        "rung — lower the floor deliberately or use the full-join "
        "top-k form (its cost is the contract's, not the plan's)"
    )


def containment_join(
    shingles: DataFrame,
    threshold: float,
    doc_col: str = "doc_id",
    set_col: str = "s",
    min_size: int = 1,
    prune_verify: bool = False,
) -> DataFrame:
    """All DIRECTED pairs (a, b) with containment |A∩B| / |A| >= t.

    Containment is the asymmetric twin of the Jaccard join: a truncated
    copy, a quoted excerpt, or a doc embedded in a larger compilation
    has containment ~1.0 in its source while its JACCARD can be
    arbitrarily small (|B| >> |A| drives the union up) — so
    ``jaccard_similarity_join`` structurally cannot find these, and a
    dedup pass that only runs it keeps every truncation. Standard
    set-containment machinery (Melnik & Garcia-Molina; the prefix
    filter transfers per Chaudhuri et al. SSJoin).

    Filters, all exact (no false negatives):

    - A-side prefix: |A∩B| >= ceil(t·|A|) means the first
      |A| − ceil(t·|A|) + 1 shingles of A (shared global rarest-first
      order) must hit B — only A's prefix posts into the join. B posts
      ALL its shingles (its witness may sit anywhere in B's order), so
      candidate work is Σ_s df_prefixA(s)·df(s): asymmetric but still
      prefix-bounded on the contained side, which is the side that
      matters (the Zipf head sorts last and rarely makes a prefix).
    - Length filter: |B| >= |A∩B| >= t·|A| — undersized B dropped at
      the meeting (B has no upper bound; that is the point).
    - Positional filter: for the FIRST common shingle (rank _ra in A,
      _rb in B) the overlap is at most 1 + min(|A|−_ra, |B|−_rb);
      meetings that cannot reach t·|A| are dropped, the first-common
      meeting of every qualifying pair always survives.

    Verification is pair-local and exact (array_intersect on doc-sized
    arrays). Output: ``a_id, b_id, inter, na, nb, containment`` — one
    row per DIRECTED qualifying pair (an exact clone yields both
    directions at 1.0; a strict truncation yields only A→B).
    ``min_size`` drops trivially-contained tiny docs (|A| < min_size).
    ``prune_verify=True`` persists the candidate frame into the session
    cache registry — call ``release_caches()`` after the terminal
    action (see ``jaccard_similarity_join``).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    sh = shingles.select(doc_col, set_col)

    # precomputed rank columns (the shingle artifact) skip the df
    # aggregate + join + ranking window, as in jaccard_similarity_join
    if all(c in shingles.columns for c in RANK_COLS):
        ranked = shingles.select(doc_col, set_col, "_r", "_n")
    else:
        ranked = rank_shingle_rows(
            shingles, doc_col=doc_col, set_col=set_col
        ).drop("_df")
    a = ranked.where(
        (F.col("_r") <= _prefix_bound(threshold, F.col("_n")))
        & (F.col("_n") >= min_size)
    ).select(
        F.col(doc_col).alias("a_id"), set_col,
        F.col("_n").alias("_na"), F.col("_r").alias("_ra"),
    )
    b = ranked.select(  # unfiltered: the containing side posts everything
        F.col(doc_col).alias("b_id"), set_col,
        F.col("_n").alias("_nb"), F.col("_r").alias("_rb"),
    )
    required = F.lit(threshold) * F.col("_na") - F.lit(1e-9)
    cand = (
        a.join(b, set_col)
        .where(
            (F.col("a_id") != F.col("b_id"))
            & (F.col("_nb") >= required)  # length filter
            & (  # positional filter (first-common-meeting safe)
                F.lit(1)
                + F.least(
                    F.col("_na") - F.col("_ra"),
                    F.col("_nb") - F.col("_rb"),
                )
                >= required
            )
        )
        .select("a_id", "b_id")
        .distinct()
    )

    cand, sa, sb = _candidate_sets(
        sh, cand, doc_col, set_col, prune_verify
    )
    inter = F.size(F.array_intersect("_sa", "_sb"))
    cont = inter.cast("double") / F.col("na").cast("double")
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .where(cont >= threshold)  # unrounded — matches the SQL twin
        .select(
            "a_id",
            "b_id",
            inter.alias("inter"),
            "na",
            "nb",
            _dround(cont).alias("containment"),
        )
    )
