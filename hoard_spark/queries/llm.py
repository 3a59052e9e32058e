"""Q31+ — LLM-training-data pipeline operators (SURVEY.md §2C Q31-Q35 and
the extended dedup/similarity/text-analysis family).

All hot paths are JVM-side higher-order functions (transform / aggregate /
zip_with / array_*) — no Python UDFs. The scale-sensitive operators follow
the bucketed-join discipline: MinHash-LSH (q35) and SimHash (q36) generate
candidate pairs ONLY via equi-joins on (band_id, band_hash) buckets —
never an all-pairs crossJoin — so the plan survives a 100 TB documents
table. Exact quadratic forms exist only as bounded oracle twins (q34 is
label-blocked; q37 is (lang, source)-blocked; q38 is 10 query vectors).

Determinism: xxhash64 with fixed seed literals; every output has a total
ORDER BY; float outputs go through the dround/decimal discipline of
``hoard_spark.queries``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hoard_spark.functions import split_words
from hoard_spark.queries import (
    davg,
    dround,
    dsum10,
    load,
    ordered,
    present_sorted,
    query,
    spread,
    track_cache,
    track_checkpoint,
)

# ---------------------------------------------------------------------------
# shared fragments
# ---------------------------------------------------------------------------

_DUCK_SHINGLES = (
    "list_distinct(list_transform(range(1, len(toks) - 1), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"
)

# Scale-path candidate pairs for the DuckDB twins (VERDICT r8 item 10):
# J >= 0.7 pairs via the shared-shingle inverted-index join — exact for
# any t > 0 (a qualifying pair shares >= 1 gram) with no dependence on
# the engine's prefix-filter theorem, and Σ df(s)² work instead of the
# all-pairs quadratic that hits the bench's 120 s interrupt at sf0.1.
_DUCK_PAIRS_SCALE = f"""
    s AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS sh
        FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
              FROM documents)
        WHERE len(toks) >= 3
    ),
    e AS (SELECT doc_id, unnest(sh) AS g FROM s),
    meet AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, len(sh) AS n FROM s),
    pairs AS (
        SELECT m.a_id, m.b_id
        FROM meet m
        JOIN sz x ON x.doc_id = m.a_id
        JOIN sz y ON y.doc_id = m.b_id
        WHERE m.inter * 1.0 / (x.n + y.n - m.inter) >= 0.7
    )
"""


def shingle_rows_of(
    docs: DataFrame, width: int = 3, with_pos: bool = False
) -> DataFrame:
    """documents DataFrame → one row per DISTINCT word-``width``-gram
    shingle: (doc_id, lang, source, s).

    Shuffle-free gram formation: ``arrays_zip`` of ``width`` shifted
    ``slice``s of the token array, then ONE posexplode — each row of the
    zip IS the n-gram starting at that position, so no window is needed
    at all. The previous ``posexplode + lead().over(doc window)`` shape
    paid a full Exchange+sort of every token row just to see the next
    ``width-1`` tokens, which sit in the same source array anyway;
    removing that exchange measured 0.92 → 0.65 s for the
    explode+min-pos stage at sf0.1 (min-of-6, faster in every pair), and
    at scale it deletes the corpus-sized token shuffle outright (guide
    §2.4). The gram groupBy/distinct shuffle that follows is unchanged.
    (The interpreted ``transform(sequence, … concat_ws)`` higher-order
    build, replaced in r8, measured 5.4 s — the zip is codegen-friendly
    per doc, not per gram.) Every consumer (MinHash signatures, the
    inverted index, intersection counting) wants exploded rows anyway,
    so no gram arrays are ever materialized. Docs with <width tokens
    yield no rows, matching the oracle's ``len(toks) >= 3`` gate at the
    default.

    ``width`` matters at scale: on a CLOSED vocabulary (V words) the
    n-gram domain is V^width, and per-shingle document frequency — the
    quantity whose square bounds every posting/prefix join — is
    ~corpus_shingles / V^width. tools/bench_heavy_sf1.json records this
    directly: at 10x data on the 31-word testdata vocabulary, width 3
    (domain ~30k) lets df grow ∝ N and the prefix join goes quadratic,
    while width 5 (domain ~28.6M) keeps df flat and the slope linear.

    ``with_pos``: additionally keep ``pos`` = the 0-based start position
    of the shingle's FIRST occurrence in the doc (same shuffle — a
    min-aggregate replaces the distinct). A prefix truncation to k
    tokens then has exactly the shingles with ``pos + width - 1 < k``,
    which lets truncation-derived corpora (q98) be pure FILTERS of the
    materialized shingle artifact instead of a re-shingling pass.
    """
    toks = split_words()
    cnt = F.size(toks) - (width - 1)
    zipped = F.arrays_zip(*[F.slice(toks, 1 + i, cnt) for i in range(width)])
    rows = (
        spread(docs)
        .where(F.size(toks) >= width)
        .select(
            "doc_id",
            "lang",
            "source",
            F.posexplode(zipped).alias("pos", "_z"),
        )
        .select(
            "doc_id",
            "lang",
            "source",
            F.concat_ws(
                " ", *[F.col("_z")[str(i)] for i in range(width)]
            ).alias("s"),
            "pos",
        )
    )
    if with_pos:
        return rows.groupBy("doc_id", "lang", "source", "s").agg(
            F.min("pos").alias("pos")
        )
    return rows.select("doc_id", "lang", "source", "s").distinct()


def _shingle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-keyed MATERIALIZED shingle table (VERDICT r8 item 2).

    Eight conformance queries (q35/q36/q37/q66/q79/q90/q95/q98) and the
    q51 cluster build all start from the same distinct
    (doc_id, lang, source, s) rows, and the posexplode + window +
    distinct build is the dominant stage of each — so it is built ONCE
    per corpus fingerprint and persisted as parquet via
    ``hoard_spark.artifacts`` (the same pattern as the cluster table and
    the ANN index). Consumers get a column-prunable parquet scan. The
    stored ``pos`` (first-occurrence start position) lets the
    augmented-corpus queries derive their planted sides WITHOUT any
    re-shingling: exact clones (q36) are an id-shifted filter,
    truncations (q98) a position filter, suffix clones (q90) a filter
    plus ``width`` literal boundary grams.

    The table also stores the prefix-filter rank columns ``_df/_r/_n``
    (``simjoin.rank_shingle_rows``): they are intrinsic to (the doc's
    own rows, the global rarest-first order), so q79 reads its ranked
    posting table straight off the parquet scan, and the augmented
    corpora (q90/q98) re-rank only their ~10% clone rows while base
    docs reuse the stored ranks. Consumers that want none of this
    (q35/q36/q66/q95) prune the columns at the scan.
    """
    from hoard_spark.artifacts import get_or_build
    from hoard_spark.simjoin import rank_shingle_rows

    return get_or_build(
        spark,
        sf_dir,
        "shingle_rows_ranked",
        ("documents",),
        lambda: rank_shingle_rows(
            shingle_rows_of(load(spark, sf_dir, "documents"), with_pos=True),
            keep=["lang", "source", "pos"],
        ),
    )


def _emb_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings → (vec_id, label, v: array<double>, nrm), persisted.

    Persisting matters: every caller self-joins this table, and without the
    InMemoryRelation barrier the optimizer inlines the transform/aggregate
    higher-order expressions into BOTH join sides, recomputing them per
    candidate pair (measured 318s -> ~3s for q34 at sf0.1)."""
    v = F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    return (
        spread(load(spark, sf_dir, "embeddings"))
        .select("vec_id", "label", v.alias("v"))
        .withColumn(
            "nrm",
            F.sqrt(
                F.expr("aggregate(v, 0.0D, (acc, x) -> acc + x * x)")
            ),
        )
        .transform(track_cache)
    )


_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, p) -> acc + p)"


# ---------------------------------------------------------------------------
# Q31-Q33: exact dedup, token stats, JSON extraction
# ---------------------------------------------------------------------------


@query(
    "q31_exact_dedup",
    "exact dedup: total vs distinct content hashes",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS total,
           CAST(COUNT(DISTINCT MD5(text)) AS BIGINT) AS distinct_docs
    FROM documents
    """,
    "SURVEY.md §2C Q31",
)
def q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents").agg(
        F.count("*").alias("total"),
        F.countDistinct(F.md5("text")).alias("distinct_docs"),
    )


@query(
    "q32_token_stats",
    "whitespace token counts + mean doc length per language",
    """
    SELECT lang,
           CAST(SUM(LENGTH(string_split_regex(text, ' +'))) AS BIGINT) AS toks,
           CAST(ROUND(CAST(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)
                           AS DECIMAL(25,10)), 4) AS DOUBLE) AS avg_chars
    FROM documents GROUP BY 1 ORDER BY 1
    """,
    "SURVEY.md §2C Q32",
)
def q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.sum(F.size(F.split("text", " +"))).cast("long").alias("toks"),
            dround(F.sum("n_chars").cast("double") / F.count("*")).alias(
                "avg_chars"
            ),
        )
        .orderBy("lang")
    )


@query(
    "q33_json_extract",
    "JSON property extraction from events.props",
    """
    SELECT json_extract_string(props, '$.k') AS k,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1 ORDER BY 1 NULLS FIRST
    """,
    "SURVEY.md §2C Q33",
)
def q33(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.get_json_object("props", "$.k").alias("k"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("k").asc_nulls_first())
    )


# ---------------------------------------------------------------------------
# Q34/Q38: embedding similarity (exact forms, bounded)
# ---------------------------------------------------------------------------


@query(
    "q34_cosine_topk",
    "top-20 cosine pairs within label (label-blocked exact self-join)",
    """
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    n AS (SELECT vec_id, label, v, SQRT(list_dot_product(v, v)) AS nrm FROM e)
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 3) AS cos
    FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
    ORDER BY cos DESC, a_id, b_id LIMIT 20
    """,
    "SURVEY.md §2C Q34 (oracle twin; production path = LSH/IVF, q39)",
)
def q34(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _emb_norm(spark, sf_dir)
    a = n.select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("a_label"),
        F.col("v").alias("a_v"),
        F.col("nrm").alias("a_nrm"),
    )
    b = n.select(
        F.col("vec_id").alias("b_id"),
        F.col("label").alias("b_label"),
        F.col("v").alias("b_v"),
        F.col("nrm").alias("b_nrm"),
    )
    dot = F.expr(_DOT.format(a="a_v", b="b_v"))
    return (
        a.join(
            b,
            (F.col("a_label") == F.col("b_label"))
            & (F.col("a_id") < F.col("b_id")),
            "inner",
        )
        .select(
            "a_id",
            "b_id",
            F.round(dot / (F.col("a_nrm") * F.col("b_nrm")), 3).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), "a_id", "b_id")
        .limit(20)
    )


@query(
    "q38_knn_exact",
    "brute-force cosine top-3 neighbors for 10 query vectors (ANN baseline)",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm FROM e),
    q AS (SELECT * FROM n WHERE vec_id < 10),
    scored AS (
        SELECT q.vec_id AS q_id, n.vec_id AS n_id,
               ROUND(list_dot_product(q.v, n.v) / (q.nrm * n.nrm), 3) AS cos
        FROM q JOIN n ON q.vec_id <> n.vec_id
    ),
    ranked AS (
        SELECT q_id, n_id, cos,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, n_id) AS rn
        FROM scored
    )
    SELECT q_id, n_id, cos, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 3 ORDER BY q_id, rn
    """,
    "training-data pipeline: similarity search baseline (VERDICT r1)",
)
def q38(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thin wrapper over the library surface (hoard_spark/ann.py) — the
    conformance twin relationship pipeline.py has to q35/q51/q67."""
    from hoard_spark.ann import queries_from, search_exact

    n = _emb_norm(spark, sf_dir).select("vec_id", "v", "nrm")
    return present_sorted(
        search_exact(n, queries_from(n, range(10)), k=3), "q_id", "rn"
    )


# ---------------------------------------------------------------------------
# Q35/Q36/Q37: near-dup detection
# ---------------------------------------------------------------------------

_MINHASH_PERMS = 128
_LSH_BANDS = 32  # 32 bands x 4 rows: P(candidate | J=0.7) ≈ 1-(1-0.7^4)^32 ≈ .9997


def _minhash_bands(rows: DataFrame) -> DataFrame:
    """(doc_id, s) shingle rows → (doc_id, band_id, band_hash), persisted.

    MinHash signature: per permutation p, min over shingles of
    xxhash64(shingle, p); banded 4 rows/band for the LSH bucket join.

    Shape: 128 MIN aggregates in ONE groupBy over the shingle rows —
    min-over-shingles commutes with the row explosion, so the values are
    identical to a per-doc array_min(transform(...)) form, but the work
    runs across all cores with map-side partial min instead of as
    per-row higher-order functions. The 128-field aggregate exceeds
    ``spark.sql.codegen.maxFields`` (100), so it is NOT whole-stage
    codegen'd (0 of 2 ``HashAggregate`` nodes in a probe with AQE off);
    reshaping it is ROADMAP direction 3.

    Each shingle STRING is hashed exactly once (``h = xxhash64(s)``);
    the 128 permutations then hash the fixed 8-byte digest
    (``xxhash64(h, p)``) instead of re-hashing the variable-length
    string 128 times — same independence guarantees (each permutation
    is a fresh xxhash64 over distinct input), ~2.5x cheaper signature
    build measured at sf0.1. The band table (docs x 32 rows, 3 small
    columns) is persisted because the LSH bucket join reads it from
    both sides.
    """
    feats = rows.select("doc_id", F.xxhash64("s").alias("h"))
    mins = feats.groupBy("doc_id").agg(
        *[
            F.min(F.expr(f"xxhash64(h, {p})")).alias(f"m{p}")
            for p in range(_MINHASH_PERMS)
        ]
    )
    rows = _MINHASH_PERMS // _LSH_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(
                    *[F.col(f"m{b * rows + r}") for r in range(rows)]
                ).alias("band_hash"),
            )
            for b in range(_LSH_BANDS)
        ]
    )
    return track_cache(
        mins.select("doc_id", F.explode(bands).alias("band"))
        .select("doc_id", "band.band_id", "band.band_hash")
    )


@query(
    "q35_minhash_neardup",
    "MinHash-LSH near-dup pairs (J >= 0.7), bucket-join candidates only",
    # Oracle = brute-force exact Jaccard. The LSH path catches a J>=0.7
    # pair with prob ≈ .9997; verified recall 1.0 on this dataset, and the
    # hash seeds are fixed, so the match is deterministic.
    f"""
    WITH s AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS sh
        FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
              FROM documents)
        WHERE len(toks) >= 3
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 /
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)
               AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.7
    ORDER BY a_id, b_id
    """,
    "SURVEY.md §2C Q35 + VERDICT r1 (bucketed LSH, no all-pairs crossJoin)",
    # Scale twin (VERDICT r8 item 10): identical answer via the
    # shared-shingle inverted-index join — exact for ANY t > 0 (a
    # qualifying pair shares >= 1 gram; no prefix theorem involved),
    # runs in seconds at sf0.1 where the all-pairs form hits the 120 s
    # bench interrupt.
    oracle_scale=f"""
    WITH s AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS sh
        FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
              FROM documents)
        WHERE len(toks) >= 3
    ),
    e AS (SELECT doc_id, unnest(sh) AS g FROM s),
    meet AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, len(sh) AS n FROM s)
    SELECT m.a_id, m.b_id,
           ROUND(m.inter * 1.0 / (x.n + y.n - m.inter), 4) AS jaccard
    FROM meet m
    JOIN sz x ON x.doc_id = m.a_id
    JOIN sz y ON y.doc_id = m.b_id
    WHERE m.inter * 1.0 / (x.n + y.n - m.inter) >= 0.7
    ORDER BY a_id, b_id
    """,
)
def q35(spark: SparkSession, sf_dir: str) -> DataFrame:
    return present_sorted(
        _neardup_pairs_table(spark, sf_dir), "a_id", "b_id"
    )


def _neardup_pairs_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-keyed MATERIALIZED verified near-dup pair set — exactly the
    q35 result rows (a_id, b_id, jaccard>=0.7, 4dp), built once per
    corpus fingerprint and persisted as parquet (r13). Before this,
    q51's cluster build re-ran the ENTIRE band+verify pipeline q35 had
    just executed for the identical pair set — the same redundancy the
    shingle/cluster/ANN artifacts already remove elsewhere. Now q35 pays
    the one-time build (bands + candidate join + exact verify over the
    shingle artifact) and the cluster builder reads a 3-column scan."""
    from hoard_spark.artifacts import get_or_build

    def build() -> DataFrame:
        # read by the band builder AND the verify joins — but it is a
        # PARQUET SCAN of the (already materialized) shingle artifact,
        # so re-reading is cheaper than a cache fill + barrier (r14
        # same-window A/B: min 1.70 vs 1.92 s, never slower in 6 reps;
        # guide §5 — cache only when recompute beats memory pressure).
        # Unlike rank_shingle_rows' input, there is no expensive build
        # plan to accidentally inline twice: the leaf is columnar and
        # prunable either way.
        rows = _shingle_rows(spark, sf_dir).select("doc_id", "s")
        bands = _minhash_bands(rows)
        a = bands.select(
            F.col("doc_id").alias("a_id"), "band_id", "band_hash"
        )
        b = bands.select(
            F.col("doc_id").alias("b_id"), "band_id", "band_hash"
        )
        cands = (
            a.join(b, ["band_id", "band_hash"], "inner")
            .where(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id")
            .distinct()
        )
        # exact verify via per-doc shingle-set arrays: two joins land
        # each candidate pair next to both docs' sets, and a map-side
        # array_intersect size IS |A ∩ B|. The previous fan-out form
        # (explode each pair over doc a's rows, inner-join doc b's rows
        # on (b_id, s), count) carried the same bytes per pair but
        # through TWO extra shuffle stages (the (b_id, s) join + the
        # pair re-aggregation) — interleaved A/B at sf0.1: faster in
        # 3/4 reps, min 3.66 → 2.71 s, `exceptAll` empty both ways
        # (r13; pinned by tests/test_llm_queries.py::
        # test_neardup_pair_build_matches_fanout_verify). Only the SIZE
        # of the intersect is read, so collect_set's element order
        # cannot matter; arrays are per-doc bounded (doc length), never
        # corpus-sized, and a Zipf-hot doc duplicates its array per
        # candidate exactly as the fan-out duplicated its rows — AQE
        # skew splitting applies the same either way.
        # n_sh from the SAME deduplicated set the intersection reads
        # (ADVICE r13 #1): with count(*) the two would silently disagree
        # if a caller ever fed non-distinct rows; F.size costs nothing.
        sets = rows.groupBy("doc_id").agg(
            F.collect_set("s").alias("ss")
        ).withColumn("n_sh", F.size("ss").cast("long"))
        sa = sets.select(
            F.col("doc_id").alias("a_id"),
            F.col("ss").alias("sa"),
            F.col("n_sh").alias("na"),
        )
        sb = sets.select(
            F.col("doc_id").alias("b_id"),
            F.col("ss").alias("sb"),
            F.col("n_sh").alias("nb"),
        )
        inter = F.size(F.array_intersect("sa", "sb")).cast("long")
        jac = inter.cast("double") / (
            (F.col("na") + F.col("nb")).cast("double")
            - inter.cast("double")
        )
        return (
            cands.join(sa, "a_id")
            .join(sb, "b_id")
            .withColumn("jaccard", jac)
            .where(F.col("jaccard") >= 0.7)
            .select(
                "a_id", "b_id", F.round("jaccard", 4).alias("jaccard")
            )
        )

    return get_or_build(
        spark, sf_dir, "neardup_pairs", ("documents",), build
    )


def simhash_pairs(
    docs: DataFrame | None,
    threshold: int = 8,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup pairs over any documents frame → (a_id, b_id,
    hamming): 64-bit shingle signature, 16-bit-band candidate join,
    hamming <= ``threshold`` exact verify. The general library form; the
    conformance twin q36 runs it over a planted-clone corpus so the
    driver can hash-check it (VERDICT r6 item 3). Output is UNORDERED
    (a pair set): both consumers impose their own order (q36 re-sorts,
    the test compares as a set), and a library-side global sort would
    just add a range exchange + a sampling re-execution of the band
    join for an order nobody reads.

    ``shingles``: optional precomputed distinct (doc_id, s) rows (e.g.
    the per-corpus materialized shingle artifact) — skips the
    posexplode+distinct build, which otherwise dominates the query.

    Features are 3-gram SHINGLES, not unigrams: the synthetic corpus
    reuses a tiny vocabulary, so unigram simhashes collapse (hamming<=3
    between unrelated docs); shingles make the signature discriminative.
    bit-vote: +1/-1 per shingle per bit, simhash bit b = (vote >= 0),
    computed as codegen'd SUM aggregates over the shingle rows — one
    shuffle, map-side partial agg, fully whole-stage-codegen.
    """
    if shingles is None:
        if docs is None:
            raise ValueError("simhash_pairs: pass docs or shingles")
        shingles = shingle_rows_of(docs)
    feats = shingles.select("doc_id", F.xxhash64("s").alias("fh"))
    # vote_b = (+1 per set bit, -1 per clear bit) = 2*sum(bit_b) - n, so
    # vote_b >= 0  <=>  2*sum(bit_b) >= n. The 64 bit-sums are packed into
    # 16 SUM buffers of 4 x 16-bit lanes each (long g holds bits b = 16j+g
    # at lane position 16j): same arithmetic, but a 17-column aggregate +
    # shuffle instead of 65 — measured ~2x on the signature stage. Lanes
    # are exact while a doc has <= 65,535 shingles; the guard below turns
    # silent saturation into an error (100 TB docs can exceed toy bounds).
    lane_cols = [
        F.sum(
            F.expr(
                " + ".join(
                    f"shiftleft(shiftright(fh, {16 * j + g}) & 1L, {16 * j})"
                    for j in range(4)
                )
            )
        ).alias(f"g{g}")
        for g in range(16)
    ]
    votes = feats.groupBy("doc_id").agg(
        F.count("*").alias("nf"), *lane_cols
    )
    # ONE parsed SQL string for the 64-term bit assembly + guard: the
    # DSL form (64 CASE Columns chained through bitwiseOR) cost ~1 s of
    # per-invocation Py4J round trips (measured r13); the parser builds
    # the identical CASE/shiftleft/| operator tree from one string.
    guard_sql = (
        "coalesce(CAST(assert_true(nf <= 65535, "
        "'doc exceeds 65535 shingles: 16-bit simhash vote lanes "
        "would saturate — widen the lane packing') AS BIGINT), "
        "CAST(0 AS BIGINT))"
    )

    def term_sql(b: int) -> str:
        return (
            f"CASE WHEN (shiftright(g{b % 16}, {16 * (b // 16)}) "
            f"& 65535L) * 2 >= nf THEN shiftleft(1L, {b}) "
            f"ELSE CAST(0 AS BIGINT) END"
        )

    h = F.expr(
        f"(({term_sql(0)}) + {guard_sql})"
        + "".join(f" | ({term_sql(b)})" for b in range(1, 64))
    )
    # persist the compact per-doc signature table: it is read by BOTH sides
    # of the band self-join, and the InMemoryRelation boundary stops the
    # optimizer from inlining the 64-term bit-assembly expression into every
    # band projection (measured 468s -> ~11s at sf0.1 without/with it).
    sigs = track_cache(votes.select("doc_id", h.alias("h")))
    # 4 bands of 16 bits: pairs within hamming<=8 share >=1 exact band whp
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_id"),
                F.expr(f"(shiftright(h, {16 * i}) & 65535L)").alias("band_val"),
            )
            for i in range(4)
        ]
    )
    exploded = sigs.select(
        "doc_id", "h", F.explode(bands).alias("band")
    ).select("doc_id", "h", "band.band_id", "band.band_val")
    a = exploded.select(
        F.col("doc_id").alias("a_id"), F.col("h").alias("a_h"),
        "band_id", "band_val",
    )
    b = exploded.select(
        F.col("doc_id").alias("b_id"), F.col("h").alias("b_h"),
        "band_id", "band_val",
    )
    return (
        a.join(b, ["band_id", "band_val"], "inner")
        .where(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id", "b_id",
            F.bit_count(F.col("a_h").bitwiseXOR(F.col("b_h"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= threshold)
    )


# Clone ids live far above any real doc_id (sf0.1 tops out at 4999), and
# the 3-token gate mirrors shingle_rows_of's "docs with <3 tokens yield
# no shingles" edge in portable SQL (the corpus has no runs of spaces —
# verified at every SF — so spaces+1 == token count).
_CLONE_OFFSET = 1_000_000
_CLONE_PRED = (
    "doc_id % 20 = 0 AND "
    "length(trim(text)) - length(replace(trim(text), ' ', '')) >= 2"
)


@query(
    "q36_simhash_neardup",
    "SimHash near-dup: planted exact clones (doc_id % 20, id + 1e6) must "
    "be recovered by the 64-bit signature + band-join + hamming pipeline",
    # The xxhash64-derived signatures have no DuckDB twin, but an exact
    # clone's signature is bit-identical by construction, so the pipeline
    # must surface exactly the planted pairs at hamming 0 — an
    # oracle-checkable contract (the q47 planted-clone trick). Genuine
    # near-miss behavior (hamming 1..8) is pinned by
    # tests/test_llm_queries.py::test_simhash_* on the raw corpus.
    f"""
    SELECT doc_id AS a_id,
           doc_id + {_CLONE_OFFSET} AS b_id,
           0 AS hamming
    FROM documents
    WHERE {_CLONE_PRED}
    ORDER BY a_id
    """,
    "training-data pipeline: SimHash dedup (VERDICT r1; planted-clone "
    "oracle per VERDICT r6 item 3)",
)
def q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    # An exact clone's shingle set IS its source's with doc_id shifted
    # (and the <3-token gate is already encoded in the artifact: such
    # docs have no shingle rows), so the augmented corpus's shingle
    # table is the materialized base artifact plus an id-shifted filter
    # of itself — no re-shingling of any text.
    sh = _shingle_rows(spark, sf_dir).select("doc_id", "s")
    clone_sh = sh.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + F.lit(_CLONE_OFFSET)).alias("doc_id"), "s"
    )
    pairs = simhash_pairs(None, shingles=sh.unionByName(clone_sh))
    # keep only the planted pairs: the raw corpus's own near-dups (and a
    # clone's matches against OTHER docs) are not SQL-predictable
    return pairs.where(
        (F.col("b_id") - F.col("a_id") == _CLONE_OFFSET)
        & (F.col("a_id") < _CLONE_OFFSET)
    ).transform(present_sorted, "a_id")


@query(
    "q37_ngram_jaccard_topk",
    "top-10 most similar doc pairs by exact word-3-gram Jaccard, "
    "(lang, source)-blocked",
    f"""
    WITH s AS (
        SELECT doc_id, lang, source, {_DUCK_SHINGLES} AS sh
        FROM (SELECT doc_id, lang, source,
                     string_split_regex(trim(text), ' +') AS toks
              FROM documents)
        WHERE len(toks) >= 3
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 /
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)
               AS jaccard
    FROM s a JOIN s b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    ORDER BY jaccard DESC, a_id, b_id LIMIT 10
    """,
    "training-data pipeline: n-gram Jaccard similarity (VERDICT r1)",
)
def q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k Jaccard via an inverted-index (set-similarity) join.

    Round-2 shape was a (lang, source)-blocked self-join — quadratic
    within each block, a non-starter once a block is terabytes of docs.
    This shape joins the exploded (doc, shingle) posting lists on
    (lang, source, shingle) instead, so a pair of docs meets once per
    SHARED shingle: ``groupBy(a_id, b_id).count()`` IS the exact
    intersection size (shingle arrays are distinct sets), and the work is
    sum over shingles of df(s)^2 — co-occurrence-proportional, not
    block-size-quadratic (sf0.1: 16.3k pair-shingle meetings vs 159k
    blocked pairs; df==1 shingles, the vast majority, contribute no
    pairs at all). Skewed ultra-frequent shingles are the known hazard
    of this plan at 100 TB; AQE skew-join splits oversized buckets, and
    the join key includes the shingle so no single reducer sees a whole
    block. Pairs with zero shared shingles (Jaccard 0) cannot reach a
    meaningful top-10 and are excluded by construction.

    Prefix filtering (VERDICT r5 item 6) was evaluated and deliberately
    NOT applied here: it requires a similarity threshold, and this
    query's contract is a global top-10 whose 10th-best value is
    noise-level (~0.02 at sf0.01) — any prefix length that prunes would
    prune answer members. The thresholded form lives in
    hoard_spark/simjoin.py (q79): at t=0.5 it cuts sf0.1 pair-shingle
    meetings 16,317 → 75 (218×), measured r6.
    """
    inv = track_cache(
        _shingle_rows(spark, sf_dir).select("doc_id", "lang", "source", "s")
    )
    a = inv.select(F.col("doc_id").alias("a_id"), "lang", "source", "s")
    b = inv.select(F.col("doc_id").alias("b_id"), "lang", "source", "s")
    inter = (
        a.join(b, ["lang", "source", "s"], "inner")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("inter"))
    )
    sizes = inv.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    na = sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("nb"))
    jac = F.col("inter").cast("double") / (
        (F.col("na") + F.col("nb")).cast("double") - F.col("inter")
    )
    return (
        inter.join(na, "a_id")
        .join(nb, "b_id")
        .select("a_id", "b_id", F.round(jac, 4).alias("jaccard"))
        .orderBy(F.col("jaccard").desc(), "a_id", "b_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q39: IVF-pruned ANN (engine-only scale path for q38)
# ---------------------------------------------------------------------------


def _sample_units(n: DataFrame, sample: int = 4096):
    """The ``sample`` lowest vec_ids' unit vectors as a numpy matrix —
    the ONE training collect shared by IVF centroid and PQ codebook
    training (``ann.materialized_index`` passes it to both; previously
    each trainer re-collected the identical rows, one extra Spark job
    on every cold index build).

    Fast path: vec_ids are dense from 0 in this corpus, so a pushed-down
    range predicate selects the identical sample while parquet row-group
    stats prune the scan (vs sorting the full table). Falls back to the
    global sort-limit if the id space turns out sparse.

    The collected plan carries only (vec_id, v): the norm fold and the
    unit division run DRIVER-side over the collected rows with the same
    left-to-right IEEE-754 operations the JVM expressions used
    (``acc + x*x`` ascending, then ``sqrt``, then per-element ``/``) —
    bit-identical units, so the trained model (and every artifact keyed
    on it) is unchanged, while the collect job drops the per-row
    aggregate/transform codegen it used to pay."""
    import math

    import numpy as np

    def _lowest(src: DataFrame) -> list:
        return (
            src.select("vec_id", "v")
            .orderBy("vec_id")
            .limit(sample)
            .collect()
        )

    rows = _lowest(n.where(F.col("vec_id") < sample))
    if len(rows) < sample:  # sparse id space (or corpus < sample): the
        rows = _lowest(n)  # global sort-limit is the exact definition
    out = []
    for r in rows:
        v = r["v"]
        acc = 0.0
        for x in v:
            acc += x * x
        nrm = math.sqrt(acc)
        out.append([x / nrm for x in v])
    return np.array(out, dtype=np.float64)  # (m, dim)


def _kmeans_centroids(
    n: DataFrame, k: int = 8, iters: int = 4, sample: int = 4096, X=None
) -> "list[tuple[int, list[float]]]":
    """Deterministic spherical k-means, trained on a bounded sample.

    IVF index training the way it's done at scale: Lloyd iterations run
    driver-side (numpy) on a deterministic sample — the ``sample`` lowest
    vec_ids' unit vectors, seeds = the first ``k`` of them — and only the
    resulting k x dim centroid matrix (512 doubles) is broadcast. At
    100 TB you never Lloyd over the full corpus: centroid quality
    converges with sample size, so the data-sized work is confined to
    the single assignment scan in the query itself. One Spark job total
    (the sample collect) versus ~2 jobs *per Lloyd round* when the
    update step ran distributed (VERDICT r3/r4 item 5).

    numpy float64 matmul on an ordered sample is run-to-run
    deterministic, preserving the pinned recall@3 contract
    (tests/test_llm_queries.py::test_ann_ivf_recall_vs_exact).
    """
    import numpy as np

    if X is None:
        X = _sample_units(n, sample)
    C = X[:k].copy()
    for _ in range(iters):
        # assign: argmax cosine (rows are unit vectors); ties -> lowest
        # c_id, matching the previous distributed tiebreak
        cell = np.argmax(X @ C.T, axis=1)
        for c in range(k):  # update: mean direction per cell
            members = X[cell == c]
            if len(members):
                s = members.sum(axis=0)
                nrm = float(np.linalg.norm(s))
                if nrm > 0:
                    C[c] = s / nrm
    return [(i, [float(x) for x in C[i]]) for i in range(k)]


def ann_ivf_topk(
    spark: SparkSession, sf_dir: str, nprobe: int = 6
) -> DataFrame:
    """Genuine-neighbor IVF contract: approximate top-3 for the 10
    lowest vec_ids — recall@3 >= 0.95 vs the exact q38 baseline is
    pinned in tests/test_llm_queries.py (an approximate result has no
    SQL oracle; the conformance query q39 carries the oracle instead).

    IVF with spherical k-means centroids (trained on a bounded
    deterministic sample, ``_kmeans_centroids``): every vector is
    assigned to its nearest centroid; a query probes the ``nprobe``
    nearest centroid cells and ranks only those candidates.

    Cell assignment is a PURE PROJECTION: the k=8 unit centroids are
    inlined as literal arrays and the per-row argmax runs in codegen —
    no crossJoin, no per-vector window, NO SHUFFLE over the corpus
    (VERDICT r3/r4 item 5; previously a full-corpus
    ``Window.partitionBy(vec_id)``). The only shuffle left is the final
    top-3 ranking over the probed candidates. At 100 TB the assignment
    pass rides the parquet scan map-side, exactly how a distributed IVF
    index build should look.

    Thin wrapper over the library surface (hoard_spark/ann.py). NOTE on
    the sims expression there: zip_with+aggregate over literal arrays
    measured fastest — unrolling the 8x64 dot products into element_at
    arithmetic overflows the JIT method limit and falls back to
    interpreted evaluation (3x slower, measured)."""
    from hoard_spark.ann import assign_cells, queries_from, search_ivf

    n = _emb_norm(spark, sf_dir).select("vec_id", "v", "nrm")
    cents = _kmeans_centroids(n)  # [(c_id, unit vector)] — 8 x 64 doubles
    return search_ivf(
        assign_cells(n, cents),
        cents,
        queries_from(n, range(10)),
        k=3,
        nprobe=nprobe,
    ).orderBy("q_id", "rn")


# Every _ANN_STEP'th vector is cloned verbatim at vec_id + _ANN_OFFSET and
# used as a probe: cos(clone, source) = 1.0 exactly, and the clone's sims
# array is bit-identical to the source's, so both land in the SAME
# centroid cell — the source is therefore inside the probe set at ANY
# nprobe >= 1 and must come back as the exact top-1. That makes the IVF
# path's answer on the planted probes deterministically equal to the
# brute-force oracle (the q36/q43 planted-clone trick, VERDICT r7 item 3).
_ANN_OFFSET = 1_000_000
_ANN_STEP = 50


# Sentinel label for the +_ANN_OFFSET clone rows inside the unified
# index artifact: fails every filtered-search predicate (real labels are
# non-negative; the planted filter label is _ANN_FILTER_LABEL), so the
# label-filtered corpus never sees the clones while the planted searches
# select their corpus by the vec_id range instead.
_CLONE_LABEL = -1


def _unified_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE labeled corpus covering every planted-ANN construction:
    embeddings (real labels) + the q39/q91/q99 exact clones at
    ``+_ANN_OFFSET`` (sentinel label, excluded from every filtered
    search) + the q92/q100 filter alt-clones at ``+_RECALL_ALT_OFF``
    (label ``_ANN_FILTER_LABEL``). Consumers carve their declared corpus
    out of the one materialized index artifact with pushdown-friendly
    predicates: ``vec_id < _RECALL_ALT_OFF`` is exactly emb+clones (the
    q39 oracle corpus), ``label IN (0, 999)`` is exactly the filtered
    corpus (clones fail the sentinel) — so ONE train+assign+encode
    build serves five queries instead of two builds plus an inline
    re-train per invocation (VERDICT r9 watch item)."""
    emb = load(spark, sf_dir, "embeddings")
    clones = emb.where(F.col("vec_id") % _ANN_STEP == 0).select(
        (F.col("vec_id") + F.lit(_ANN_OFFSET)).alias("vec_id"),
        "embedding",
        F.lit(_CLONE_LABEL).alias("label"),
    )
    alt = emb.where(F.col("vec_id") % _ANN_STEP == _RECALL_RES).select(
        (F.col("vec_id") + F.lit(_RECALL_ALT_OFF)).alias("vec_id"),
        "embedding",
        F.lit(_ANN_FILTER_LABEL).alias("label"),
    )
    return (
        emb.select("vec_id", "embedding", "label")
        .unionByName(clones)
        .unionByName(alt)
    )


def _planted_index(spark: SparkSession, sf_dir: str):
    """Materialized IVF-PQ index over the unified labeled corpus — built
    once per corpus fingerprint (``ann.materialized_index``), shared by
    q39 (IVF), q91 (ADC), q99/q100 (near-neighbor recall) AND the
    label-filtered searches q92/q100 (the stored ``label`` column lets
    the pre-filter predicate land as PushedFilters on the artifact's
    parquet scan): the first consumer pays the train+assign+encode
    pass, the rest read a parquet scan. The same persisted-artifact
    shape as the q51/q67 cluster table."""
    from hoard_spark.ann import materialized_index

    # name versioned for the r13 ``lsh16`` schema addition: a store
    # written before it would lack the column
    return materialized_index(
        spark,
        sf_dir,
        lambda: _unified_corpus(spark, sf_dir),
        name="ann_unified_k8_m8x16_l16",
        keep=["label"],
    )


@query(
    "q39_ann_ivf",
    "IVF ANN over a planted-duplicate corpus: each cloned probe must "
    "return its source as the exact top-1 neighbor",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    aug AS (
        SELECT vec_id, v FROM e
        UNION ALL
        SELECT vec_id + {_ANN_OFFSET} AS vec_id, v FROM e
        WHERE vec_id % {_ANN_STEP} = 0
    ),
    n AS (SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm FROM aug),
    q AS (SELECT * FROM n WHERE vec_id >= {_ANN_OFFSET}),
    scored AS (
        SELECT q.vec_id AS q_id, n.vec_id AS n_id,
               ROUND(list_dot_product(q.v, n.v) / (q.nrm * n.nrm), 3) AS cos
        FROM q JOIN n ON q.vec_id <> n.vec_id
    ),
    ranked AS (
        SELECT q_id, n_id, cos,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, n_id) AS rn
        FROM scored
    )
    SELECT q_id, n_id, cos FROM ranked WHERE rn = 1 ORDER BY q_id
    """,
    "training-data pipeline: ANN scale path (VERDICT r1: bucketed, "
    "never all-pairs); oracle = exact brute-force kNN restricted to the "
    "planted probes",
)
def q39(spark: SparkSession, sf_dir: str, nprobe: int = 6) -> DataFrame:
    """Oracle-checkable IVF conformance (VERDICT r7 item 3): the corpus
    is augmented with exact clones of every ``_ANN_STEP``'th vector; the
    clones are the probes, and the IVF path must return each clone's
    source as its top-1 (cos = 1.0). The oracle is the brute-force
    exact kNN over the same augmented corpus restricted to the planted
    probes — a genuine computation, not an answer key, so the IVF plan's
    pruning is validated against ground truth end to end.

    Genuine-neighbor recall (approximate by design, no SQL oracle) stays
    pinned via ``ann_ivf_topk`` in tests/test_llm_queries.py. Plan shape
    is identical to it — map-side cell assignment, candidate-only
    shuffle for the final ranking — except the assignment is read from
    the corpus-keyed materialized index (``_planted_index``, shared
    with q91) instead of recomputed."""
    from hoard_spark.ann import search_ivf

    table, cents, _books = _planted_index(spark, sf_dir)
    # carve the declared q39 corpus (emb + clones) out of the unified
    # artifact: the range predicate prunes the alt-clone rows at the scan
    corpus = table.where(F.col("vec_id") < _RECALL_ALT_OFF)
    probes = corpus.where(F.col("vec_id") >= _ANN_OFFSET).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("q_v"),
        F.col("nrm").alias("q_nrm"),
    )
    return (
        search_ivf(corpus, cents, probes, k=1, nprobe=nprobe)
        .select("q_id", "n_id", "cos")
        .transform(present_sorted, "q_id")
    )


# q99: genuine-NEAR-neighbor recall oracle (VERDICT r8 item 3). The
# q39/q91 clones prove exactness on bit-identical probes; q99 proves the
# index finds NEAR duplicates: probes are eps-perturbed copies (one
# coordinate shifted by eps*||v||) of every 50th-offset-7 vector — ids
# DISJOINT from the clone set, so the corpus and its materialized index
# are reused untouched. Geometry (measured, tools: max genuine pairwise
# cos 0.60 at sf0.1, max |v0|/||v|| 0.394): eps=0.15 puts
# cos(probe, source) in [1/sqrt(1+eps^2), ~0.992] ≈ [0.9889, 0.992] —
# strictly below 1.0 at 3dp — while any OTHER vector is at angle
# >= 53.1° - 8.6° from the probe (cos <= 0.72), so the source is the
# provable unique top-1 and brute force is a real oracle.
_RECALL_EPS = 0.15
_RECALL_RES = 7
_RECALL_QOFF = 3_000_000
# q100's filtered path: alt-clones of the probe sources planted at this
# offset with label 999, so the label-filtered corpus provably contains
# a cos<1.0 nearest neighbor for every probe while the UNFILTERED top-1
# (the source) is filtered away for ~90% of probes — a post-filter
# implementation fails the corpus outright (the q92 discipline, now on
# genuinely near probes).
_RECALL_ALT_OFF = 4_000_000
_ANN_FILTER_LABEL = 999


@query(
    "q91_ann_ivfpq",
    "IVF-PQ ANN (4-bit product-quantized codes + ADC scan + exact "
    "rerank) over the planted-duplicate corpus: each cloned probe must "
    "return its source as the exact top-1",
    # Same ground truth as q39: brute-force exact kNN restricted to the
    # planted probes. The ENGINE path is entirely different — the
    # candidate scan reads one packed LONG per vector (64x smaller than
    # the raw float32 vector) and ranks by code-table lookups; only the
    # bounded rerank set ever touches raw vectors.
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    aug AS (
        SELECT vec_id, v FROM e
        UNION ALL
        SELECT vec_id + {_ANN_OFFSET} AS vec_id, v FROM e
        WHERE vec_id % {_ANN_STEP} = 0
    ),
    n AS (SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm FROM aug),
    q AS (SELECT * FROM n WHERE vec_id >= {_ANN_OFFSET}),
    scored AS (
        SELECT q.vec_id AS q_id, n.vec_id AS n_id,
               ROUND(list_dot_product(q.v, n.v) / (q.nrm * n.nrm), 3) AS cos
        FROM q JOIN n ON q.vec_id <> n.vec_id
    ),
    ranked AS (
        SELECT q_id, n_id, cos,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, n_id) AS rn
        FROM scored
    )
    SELECT q_id, n_id, cos FROM ranked WHERE rn = 1 ORDER BY q_id
    """,
    "training-data pipeline: memory-compressed ANN — the 100 TB shape "
    "where raw vectors do not fit the scan (Jegou et al., TPAMI 2011)",
)
def q91(spark: SparkSession, sf_dir: str, nprobe: int = 6) -> DataFrame:
    """IVF-PQ conformance on planted duplicates (the q39 corpus): the
    ADC path must find each clone's source as top-1 from 4-bit codes
    alone (clone_u == source_u, so the source is the global ADC argmax
    for its clone — within reach of any rerank depth), and the exact
    rerank pins the returned cosine to ground truth.

    Plan shape: codebooks + centroids come from the corpus-keyed
    materialized index (``_planted_index``, shared with q39 — training
    and the map-side assign+encode pass run only on a cold artifact
    store); the ADC scan reads only (vec_id, cell, pq) from the index
    parquet; raw vectors are read for the rerank set via one broadcast
    join. Genuine-neighbor agreement with the uncompressed IVF path is
    pinned in tests/test_ann.py (rerank=128 reproduces search_ivf
    exactly at sf0.01)."""
    from hoard_spark.ann import search_ivf_pq

    table, cents, books = _planted_index(spark, sf_dir)
    # declared q91 corpus = emb + clones: range-prune the alt rows
    corpus = table.where(F.col("vec_id") < _RECALL_ALT_OFF)
    probes = corpus.where(F.col("vec_id") >= _ANN_OFFSET).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("q_v"),
        F.col("nrm").alias("q_nrm"),
    )
    return (
        search_ivf_pq(
            corpus,
            corpus,
            cents,
            books,
            probes,
            k=1,
            nprobe=nprobe,
            rerank=32,
        )
        .select("q_id", "n_id", "cos")
        .transform(present_sorted, "q_id")
    )


@query(
    "q99_ann_recall",
    "genuine-NEAR-neighbor recall oracle: eps-perturbed probes (cos < "
    "1.0 to their source by construction) over the shared planted IVF "
    "index must return the source as the exact top-1",
    # Brute-force exact kNN over the same corpus for the same perturbed
    # probes — a real computation, not an answer key. The probe ids are
    # disjoint from the q39/q91 clone set, so the corpus (and therefore
    # the shared materialized index) is byte-identical to theirs.
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    aug AS (
        SELECT vec_id, v FROM e
        UNION ALL
        SELECT vec_id + {_ANN_OFFSET} AS vec_id, v FROM e
        WHERE vec_id % {_ANN_STEP} = 0
    ),
    n AS (SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm FROM aug),
    p0 AS (
        SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm FROM e
        WHERE vec_id % {_ANN_STEP} = {_RECALL_RES}
    ),
    p AS (
        SELECT vec_id + {_RECALL_QOFF} AS q_id,
               list_concat([v[1] + {_RECALL_EPS} * nrm], v[2:]) AS qv
        FROM p0
    ),
    pn AS (
        SELECT q_id, qv, SQRT(list_dot_product(qv, qv)) AS qnrm FROM p
    ),
    scored AS (
        SELECT q_id, n.vec_id AS n_id,
               list_dot_product(qv, n.v) / (qnrm * n.nrm) AS c
        FROM pn, n
    ),
    ranked AS (
        SELECT q_id, n_id, c,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY ROUND(c, 3) DESC, n_id) AS rn
        FROM scored
    )
    SELECT q_id, n_id,
           CAST(ROUND(CAST(c AS DECIMAL(25,10)), 3) AS DOUBLE) AS cos
    FROM ranked WHERE rn = 1 ORDER BY q_id
    """,
    "training-data pipeline: ANN recall on NON-identical neighbors "
    "(VERDICT r8 item 3 — closes the exact-clone-only oracle caveat)",
)
def q99(spark: SparkSession, sf_dir: str, nprobe: int = 6) -> DataFrame:
    """ANN recall with a provable-but-inexact answer: each probe is its
    source vector with coordinate 0 shifted by ``eps * ||v||`` — an
    ~8.6° rotation, so cos(probe, source) ≈ 0.989-0.992 (< 1.0: the
    match is genuinely *near*, not a byte-identical shortcut), yet every
    other vector sits at least ~44° away (measured corpus geometry, see
    _RECALL_EPS note) — the source is the provable unique top-1 and the
    brute-force oracle checks the IVF path end to end on a non-trivial
    neighbor. Probes are NOT corpus members: the search runs over the
    same materialized index q39/q91 share (zero extra build). The
    output cosine is recomputed through the decimal-stable dround
    discipline (two tiny broadcast joins over the k=1 rows) because the
    perturbed cosines are arbitrary doubles, exactly the 3dp-midpoint
    population where plain double ROUND can disagree between engines."""
    from hoard_spark.ann import search_ivf

    table, cents, _books = _planted_index(spark, sf_dir)
    n = _emb_norm(spark, sf_dir)
    q_v = F.concat(
        F.array(F.get("v", 0) + F.lit(_RECALL_EPS) * F.col("nrm")),
        F.expr("slice(v, 2, size(v) - 1)"),
    )
    probes = (
        n.where(F.col("vec_id") % _ANN_STEP == _RECALL_RES)
        .select(
            (F.col("vec_id") + F.lit(_RECALL_QOFF)).alias("q_id"),
            q_v.alias("q_v"),
        )
        .withColumn("q_nrm", F.sqrt(F.expr(_DOT.format(a="q_v", b="q_v"))))
    )
    hits = search_ivf(
        table.where(F.col("vec_id") < _RECALL_ALT_OFF),
        cents,
        probes,
        k=1,
        nprobe=nprobe,
    ).select("q_id", "n_id")
    return (
        hits.join(probes, "q_id")
        .join(
            table.select(F.col("vec_id").alias("n_id"), "v", "nrm"), "n_id"
        )
        .select(
            "q_id",
            "n_id",
            dround(
                F.expr(_DOT.format(a="q_v", b="v"))
                / (F.col("q_nrm") * F.col("nrm")),
                3,
            ).alias("cos"),
        )
        .transform(present_sorted, "q_id")
    )


def _q100_probe_keys(
    spark: SparkSession,
    sf_dir: str,
    table: DataFrame,
    cents: "list[tuple[int, list[float]]]",
    books: "list[list[list[float]]]",
    nprobe: int,
    probe_src: Column,
    name_suffix: str = "",
) -> DataFrame:
    """Corpus-keyed MATERIALIZED probe-key frame for q100's fused
    meeting: (q_id, q_v, q_nrm, lut, tag, key), one row per (probe,
    path key) — nprobe IVF cells tagged ``pq`` and ``flt`` plus the 4
    LSH band keys tagged ``lsh`` — r14.

    Why an artifact: the expression form built this frame per
    invocation from three ~1k-double literal trees (centroid matrix,
    PQ codebook cube, hyperplane matrix) dragged through ~8 DataFrame
    ops — measured r14: 2,466 Py4J round trips / ~1.3-2.0 s of pure
    driver-side construction, more than the query's execution — and
    then evaluated k + m*ks + h interpreted higher-order-function folds
    per probe row inside the checkpoint job (the exact cost class
    ``assign_encode_batch`` removed from the corpus side in r13; probes
    grow with the corpus at N/_ANN_STEP, so the interpreted folds are a
    scale cost too, guide §4.2). The build is ONE ``mapInPandas`` batch
    pass with the SAME arithmetic order as the expression form, so
    every value is bit-identical (pinned by tests/test_llm_queries.py::
    test_q100_probe_keys_match_expression_form):

    - q_v = [v0 + eps*nrm] ++ v[1:]; q_nrm = sqrt of the ascending-j
      ``acc + q_v_j * q_v_j`` fold;
    - sims[c] = ascending-j ``acc + C[c,j] * q_v_j`` fold / q_nrm; the
      probed cells are the first nprobe under (-sim, c_id) ordering —
      ``array_sort(struct(ns, c_id))``'s comparator;
    - band key b = b * 2^band_bits + ((sig >> b*band_bits) & mask) with
      sig the packed ascending-j hyperplane sign word (the
      ``lsh_signature`` arithmetic, same md5 planes);
    - lut[j][c] = ascending-t ``acc + B[j,c,t] * unit[j*d+t]`` fold,
      unit = q_v / q_nrm elementwise (``pq_lut``'s order).

    Consumers read a parquet scan (no Python in the query plan — the
    ``assign_encode_batch`` discipline) and broadcast it to the
    candidate meeting exactly as before; row count is bounded by
    (probes x (2*nprobe + bands)).
    """
    from hoard_spark.artifacts import get_or_build
    from hoard_spark.ann import hyperplanes

    H, BANDS = 16, 4
    band_bits = H // BANDS
    C_rows = [list(map(float, v)) for _, v in cents]
    B_rows = [[[float(x) for x in cw] for cw in bj] for bj in books]
    n_probe = int(nprobe)

    def build() -> DataFrame:
        from pyspark.sql.types import (
            ArrayType,
            DoubleType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        src = table.where(probe_src).select("vec_id", "v", "nrm")
        out_schema = StructType(
            [
                StructField("q_id", LongType(), True),
                StructField("q_v", ArrayType(DoubleType()), True),
                StructField("q_nrm", DoubleType(), True),
                StructField(
                    "lut", ArrayType(ArrayType(DoubleType())), True
                ),
                StructField("tag", StringType(), True),
                StructField("key", LongType(), True),
            ]
        )
        out_cols = ["q_id", "q_v", "q_nrm", "lut", "tag", "key"]
        keys_per = 2 * n_probe + BANDS

        def _keys(pdf_iter):
            import numpy as np
            import pandas as pd

            C = np.array(C_rows, dtype=np.float64)  # (k, dim)
            B = np.array(B_rows, dtype=np.float64)  # (m, ks, d)
            k, dim = C.shape
            m, ks, d = B.shape
            P = np.array(hyperplanes(dim, h=H, seed=7))
            mask = (1 << band_bits) - 1
            for pdf in pdf_iter:
                rows = len(pdf)
                if rows == 0:
                    yield pd.DataFrame(
                        {c: [] for c in out_cols}
                    )
                    continue
                V = np.array(pdf["v"].tolist(), dtype=np.float64)
                nrm = pdf["nrm"].to_numpy(dtype=np.float64)
                Q = V.copy()
                Q[:, 0] = V[:, 0] + _RECALL_EPS * nrm
                qn = np.zeros(rows, dtype=np.float64)
                for j in range(dim):
                    qn = qn + Q[:, j] * Q[:, j]
                qn = np.sqrt(qn)
                sims = np.empty((rows, k), dtype=np.float64)
                for c in range(k):
                    acc = np.zeros(rows, dtype=np.float64)
                    for j in range(dim):
                        acc = acc + C[c, j] * Q[:, j]
                    sims[:, c] = acc / qn
                sig = np.zeros(rows, dtype=np.int64)
                for i in range(H):
                    acc = np.zeros(rows, dtype=np.float64)
                    for j in range(dim):
                        acc = acc + P[i, j] * Q[:, j]
                    sig = sig + ((acc >= 0).astype(np.int64) << i)
                unit = Q / qn[:, None]
                lut = np.empty((rows, m, ks), dtype=np.float64)
                for j in range(m):
                    for c in range(ks):
                        acc = np.zeros(rows, dtype=np.float64)
                        for t in range(d):
                            acc = acc + B[j, c, t] * unit[:, j * d + t]
                        lut[:, j, c] = acc
                q_ids = pdf["vec_id"].to_numpy(dtype=np.int64) + _RECALL_QOFF
                out_qid, out_qv, out_qn, out_lut = [], [], [], []
                out_tag, out_key = [], []
                for r in range(rows):
                    cells = sorted(
                        range(k), key=lambda c: (-sims[r, c], c)
                    )[:n_probe]
                    qv_list = [float(x) for x in Q[r]]
                    lut_list = [
                        [float(x) for x in lut[r, j]] for j in range(m)
                    ]
                    tags = (
                        [("pq", int(c)) for c in cells]
                        + [("flt", int(c)) for c in cells]
                        + [
                            (
                                "lsh",
                                int(
                                    b * (1 << band_bits)
                                    + ((int(sig[r]) >> (b * band_bits))
                                       & mask)
                                ),
                            )
                            for b in range(BANDS)
                        ]
                    )
                    for tag, key in tags:
                        out_qid.append(int(q_ids[r]))
                        out_qv.append(qv_list)
                        out_qn.append(float(qn[r]))
                        out_lut.append(lut_list)
                        out_tag.append(tag)
                        out_key.append(key)
                yield pd.DataFrame(
                    {
                        "q_id": out_qid,
                        "q_v": out_qv,
                        "q_nrm": out_qn,
                        "lut": out_lut,
                        "tag": out_tag,
                        "key": out_key,
                    }
                )

        return src.mapInPandas(_keys, out_schema)

    return get_or_build(
        spark,
        sf_dir,
        f"q100_probe_keys_np{n_probe}{name_suffix}",
        ("embeddings",),
        build,
    )


@query(
    "q100_ann_recall_paths",
    "genuine-NEAR-neighbor recall for the OTHER three ANN paths "
    "(IVF-PQ ADC, LSH banding, label-filtered IVF): the q99 "
    "eps-perturbed probes must return their provable top-1 through "
    "each, tagged by path",
    # Same brute-force ground truth as q99, duplicated per path tag —
    # the compressed-code path and the band-join path are entirely
    # different engines over the same corpus, so each gets its own
    # oracle row. LSH uses 4 bands of 4 bits here: at the probes'
    # ~8.6 degree perturbation the per-bit flip rate is ~4.7%, and the
    # 4x4 banding collides every probe with its source on every tested
    # corpus (verified at sf0.001/0.01/0.1 — deterministic: fixed
    # hyperplane seed, fixed corpus), where the clone-tuned 2x8 default
    # misses 6/40 at sf0.1.
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    aug AS (
        SELECT vec_id, v FROM e
        UNION ALL
        SELECT vec_id + {_ANN_OFFSET} AS vec_id, v FROM e
        WHERE vec_id % {_ANN_STEP} = 0
    ),
    n AS (SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm FROM aug),
    p0 AS (
        SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm FROM e
        WHERE vec_id % {_ANN_STEP} = {_RECALL_RES}
    ),
    p AS (
        SELECT vec_id + {_RECALL_QOFF} AS q_id,
               list_concat([v[1] + {_RECALL_EPS} * nrm], v[2:]) AS qv
        FROM p0
    ),
    pn AS (
        SELECT q_id, qv, SQRT(list_dot_product(qv, qv)) AS qnrm FROM p
    ),
    scored AS (
        SELECT q_id, n.vec_id AS n_id,
               list_dot_product(qv, n.v) / (qnrm * n.nrm) AS c
        FROM pn, n
    ),
    ranked AS (
        SELECT q_id, n_id, c,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY ROUND(c, 3) DESC, n_id) AS rn
        FROM scored
    ),
    c2 AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        FROM embeddings
        UNION ALL
        SELECT vec_id + {_RECALL_ALT_OFF} AS vec_id,
               CAST(embedding AS DOUBLE[]) AS v,
               {_ANN_FILTER_LABEL} AS label
        FROM embeddings WHERE vec_id % {_ANN_STEP} = {_RECALL_RES}
    ),
    n2 AS (
        SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm
        FROM c2 WHERE label IN (0, {_ANN_FILTER_LABEL})
    ),
    scored2 AS (
        SELECT q_id, n2.vec_id AS n_id,
               list_dot_product(qv, n2.v) / (qnrm * n2.nrm) AS c
        FROM pn, n2
    ),
    ranked2 AS (
        SELECT q_id, n_id, c,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY ROUND(c, 3) DESC, n_id) AS rn
        FROM scored2
    )
    SELECT * FROM (
        SELECT paths.path, q_id, n_id,
               CAST(ROUND(CAST(c AS DECIMAL(25,10)), 3) AS DOUBLE) AS cos
        FROM ranked CROSS JOIN (VALUES ('ivfpq'), ('lsh')) AS paths(path)
        WHERE rn = 1
        UNION ALL
        SELECT 'ivf_filtered' AS path, q_id, n_id,
               CAST(ROUND(CAST(c AS DECIMAL(25,10)), 3) AS DOUBLE) AS cos
        FROM ranked2 WHERE rn = 1
    ) ORDER BY path, q_id
    """,
    "training-data pipeline: closes the exact-clone-only oracle caveat "
    "on ALL ANN paths (q99 covers IVF; this covers IVF-PQ + LSH + "
    "filtered IVF, the filtered corpus removing the unfiltered top-1 "
    "for ~90% of probes so only a pre-filter plan survives)",
)
def q100(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = 6,
    probe_cap: "int | None" = None,
    _cands_only: bool = False,
) -> DataFrame:
    """q99's provable near-neighbor construction pushed through the
    remaining ANN engines. The IVF-PQ path must surface each perturbed
    probe's source from 4-bit ADC codes + exact rerank (the probe's
    cell ordering tracks its source's, and rerank=32 pins the cosine);
    the LSH path must collide probe and source in at least one 4-bit
    hyperplane band (no index at all — signatures are literal-matrix
    projections, candidates meet in the band equi-join); the FILTERED
    path searches a corpus where every probe source has a label-999
    alt-clone and the predicate admits labels {0, 999} — the provable
    top-1 is the source when its own label is 0, else the alt-clone
    (bitwise cos tie, lowest-id break), and since ~90% of sources fail
    the predicate, the unfiltered top-1 is usually REMOVED: only a
    pre-filter plan (predicate pushed into the corpus scan before the
    candidate meeting) passes the oracle. PQ/LSH reuse q39/q91's
    materialized index / corpus untouched; all paths recompute the
    output cosine through the decimal-stable rounding discipline over
    the k=1 rows (see q99).

    FUSED DRIVE (VERDICT r10 item 1a): the three engines used to run as
    three separate search jobs — three artifact scans, three probe
    broadcasts, three candidate shuffles — and at conformance scale the
    query's wall was almost entirely that repeated fixed cost. All three
    meetings are equi-joins of the corpus against a bounded probe set,
    differing only in the join key (IVF cell, LSH band, filtered cell)
    and the per-path ranking, so they fuse into ONE (tag, key) candidate
    meeting: one scan of the unified artifact exploding each row's keys
    per path it participates in, one probe broadcast carrying every
    path's keys + the ADC LUT, one shuffle ranking all paths via two
    same-partitioning windows (ADC cut for the PQ path, exact-cosine
    top-1 for all). Per-path semantics are bit-identical to the library
    engines (``search_ivf_pq`` / ``search_lsh`` / filtered
    ``search_ivf``): same candidate sets, same rounded-cosine ranking,
    same tie-breaks; the LSH duplicate-collision dedup is subsumed by
    k=1 ranking (duplicates of the winning pair are adjacent under
    (cos, n_id) and rn=1 picks one). At 100 TB the fusion argument
    holds: the meeting stays candidate-only (never all-pairs), the
    probe side stays broadcast-sized, and one wide-key shuffle replaces
    three."""
    from pyspark.sql import Window

    from hoard_spark.ann import _bands

    table, cents, books = _planted_index(spark, sf_dir)
    q_v = F.concat(
        F.array(F.get("v", 0) + F.lit(_RECALL_EPS) * F.col("nrm")),
        F.expr("slice(v, 2, size(v) - 1)"),
    )
    # The tiny probe frame feeds the fused meeting plus the final cosine
    # join — persist it so the perturbation expressions evaluate once.
    # The probe SOURCES (the base embeddings' v/nrm) are carved off the
    # unified artifact instead of a fresh _emb_norm plan: same values by
    # construction (the artifact stores v = CAST(embedding AS DOUBLE)),
    # one less normalized-corpus build per invocation.
    # probe_cap is the SCALING-CONTROL hook (never set on the registered
    # conformance path): the probe population grows with the corpus
    # (every _ANN_STEP'th vector), so probes x per-probe candidates is
    # ~N^2 BY CONSTRUCTION — capping the probe-source vec_id fixes the
    # probe-set size so a scaling run (tools/bench_q100_sf10.json) can
    # isolate the corpus axis, exactly the q91 fixed-probe control pattern.
    probe_src = (F.col("vec_id") < _ANN_OFFSET) & (
        F.col("vec_id") % _ANN_STEP == _RECALL_RES
    )
    if probe_cap is not None:
        probe_src = probe_src & (F.col("vec_id") < probe_cap)
    probes = track_cache(
        table.where(probe_src)
        .select(
            (F.col("vec_id") + F.lit(_RECALL_QOFF)).alias("q_id"),
            q_v.alias("q_v"),
        )
        .withColumn("q_nrm", F.sqrt(F.expr(_DOT.format(a="q_v", b="q_v"))))
    )
    # Path constants: the pq/lsh corpora are the DECLARED emb+clones
    # corpus (vec_id < _RECALL_ALT_OFF carves it out of the unified
    # artifact); the filtered corpus is `label IN (0, 999)` over the
    # full artifact (clones fail the sentinel label — the VERDICT r9
    # pre-filter discipline, with zero per-invocation train/assign
    # cost). LSH: 16-bit signatures in 4 bands of 4 bits (see the
    # oracle comment), same fixed hyperplanes as search_lsh's defaults.
    H, BANDS, RERANK = 16, 4, 32
    band_bits = H // BANDS
    m = len(books)

    def band_keys(sig: Column) -> Column:
        # (band_i, band_v) encoded into one long key per band
        return F.transform(
            _bands(sig, BANDS, band_bits),
            lambda b: b["band_i"].cast("long") * (1 << band_bits)
            + b["band_v"],
        )

    def tagged(tag: str, key: Column) -> Column:
        return F.struct(
            F.lit(tag).alias("tag"), key.cast("long").alias("key")
        )

    # Probe side of the meeting: every path's join keys — nprobe IVF
    # cells (shared by the pq and filtered paths), the 4 signature
    # bands, plus the ADC LUT the pq ranking reads — come off the
    # corpus-keyed MATERIALIZED probe-key artifact (r14, see
    # _q100_probe_keys): a parquet scan, zero literal trees and zero
    # interpreted probe folds in this plan (the expression form cost
    # ~1.3-2.0 s of driver construction + a checkpointed interpreted
    # fold job per invocation). Broadcast once, exactly as before.
    pk = _q100_probe_keys(
        spark,
        sf_dir,
        table,
        cents,
        books,
        int(nprobe),
        probe_src,
        name_suffix="" if probe_cap is None else f"_cap{int(probe_cap)}",
    )

    # Corpus side: ONE scan of the unified artifact (the OR of the two
    # corpus predicates stays parquet-pushable), exploding each row's
    # keys and keeping only the paths whose corpus the row belongs to.
    from hoard_spark.queries import spread_by_stats

    ck = (
        spread_by_stats(
            table.where(
                (F.col("vec_id") < _RECALL_ALT_OFF)
                | F.col("label").isin(0, _ANN_FILTER_LABEL)
            )
        )
        .select(
            "vec_id",
            "v",
            "nrm",
            "pq",
            (F.col("vec_id") < _RECALL_ALT_OFF).alias("_planted"),
            F.col("label").isin(0, _ANN_FILTER_LABEL).alias("_filtered"),
            # corpus signatures come off the artifact's stored lsh16
            # (bit-identical Arrow-built word, r13) — no per-invocation
            # O(N x h x dim) projection, no plane literals on the big
            # side of the plan
            F.explode(
                F.concat(
                    F.array(
                        tagged("pq", F.col("cell")),
                        tagged("flt", F.col("cell")),
                    ),
                    F.transform(
                        band_keys(F.col("lsh16")),
                        lambda k: tagged("lsh", k),
                    ),
                )
            ).alias("tk"),
        )
        .where(
            F.when(F.col("tk.tag") == "flt", F.col("_filtered")).otherwise(
                F.col("_planted")
            )
        )
        .select(
            "vec_id", "v", "nrm", "pq",
            F.col("tk.tag").alias("tag"), F.col("tk.key").alias("key"),
        )
    )

    # One candidate meeting; cosine/ADC computed map-side so the single
    # ranking shuffle carries only (tag, q_id, n_id, cos, adc).
    adc = F.expr(
        f"aggregate(sequence(0, {m - 1}), 0.0D, (acc, j) -> acc + "
        "lut[j][CAST(shiftright(pq, 4 * j) & 15 AS INT)])"
    )
    cand = (
        ck.join(F.broadcast(pk), ["tag", "key"], "inner")
        .where(F.col("q_id") != F.col("vec_id"))
        .select(
            "tag",
            "q_id",
            F.col("vec_id").alias("n_id"),
            F.round(
                F.expr(_DOT.format(a="q_v", b="v"))
                / (F.col("q_nrm") * F.col("nrm")),
                3,
            ).alias("cos"),
            F.when(F.col("tag") == "pq", adc).otherwise(F.lit(0.0)).alias(
                "adc"
            ),
        )
    )
    if _cands_only:
        # Diagnostic surface for the scaling harness: the candidate
        # meeting's (tag, q_id, n_id) stream pre-ranking, so per-path
        # candidate volume can be counted (a map-side partial count —
        # no wide shuffle) without paying the window ranking.
        return cand.select("tag", "q_id", "n_id")
    # Two windows over the SAME partitioning = one exchange: the first
    # is search_ivf_pq's ADC cut (pq rows only — others pass), the
    # second every path's exact-cosine top-1 with the library tie-break.
    w_adc = Window.partitionBy("tag", "q_id").orderBy(
        F.col("adc").desc(), "n_id"
    )
    w_cos = Window.partitionBy("tag", "q_id").orderBy(
        F.col("cos").desc(), "n_id"
    )
    top = (
        cand.withColumn("_r", F.row_number().over(w_adc))
        .where((F.col("tag") != "pq") | (F.col("_r") <= RERANK))
        .withColumn("rn", F.row_number().over(w_cos))
        .where(F.col("rn") == 1)
        .select(
            F.when(F.col("tag") == "pq", F.lit("ivfpq"))
            .when(F.col("tag") == "lsh", F.lit("lsh"))
            .otherwise(F.lit("ivf_filtered"))
            .alias("path"),
            "q_id",
            "n_id",
        )
    )
    # the unified table already holds every possible n_id (base, clone,
    # alt) exactly once
    lookup = table.select(F.col("vec_id").alias("n_id"), "v", "nrm")
    return (
        top.join(probes, "q_id")
        .join(lookup, "n_id")
        .select(
            "path",
            "q_id",
            "n_id",
            dround(
                F.expr(_DOT.format(a="q_v", b="v"))
                / (F.col("q_nrm") * F.col("nrm")),
                3,
            ).alias("cos"),
        )
        .transform(present_sorted, "path", "q_id")
    )


@query(
    "q93_ann_lsh",
    "LSH-bucketed ANN (random-hyperplane signatures + band-bucket join) "
    "over the planted-duplicate corpus: each cloned probe must return "
    "its source as the exact top-1",
    # Same ground truth as q39/q91: brute-force exact kNN restricted to
    # the planted probes. The ENGINE path needs no trained index at all —
    # signatures are a map-side projection over fixed hyperplanes and
    # candidates meet through a band equi-join (Charikar, STOC 2002).
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    aug AS (
        SELECT vec_id, v FROM e
        UNION ALL
        SELECT vec_id + {_ANN_OFFSET} AS vec_id, v FROM e
        WHERE vec_id % {_ANN_STEP} = 0
    ),
    n AS (SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm FROM aug),
    q AS (SELECT * FROM n WHERE vec_id >= {_ANN_OFFSET}),
    scored AS (
        SELECT q.vec_id AS q_id, n.vec_id AS n_id,
               ROUND(list_dot_product(q.v, n.v) / (q.nrm * n.nrm), 3) AS cos
        FROM q JOIN n ON q.vec_id <> n.vec_id
    ),
    ranked AS (
        SELECT q_id, n_id, cos,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, n_id) AS rn
        FROM scored
    )
    SELECT q_id, n_id, cos FROM ranked WHERE rn = 1 ORDER BY q_id
    """,
    "training-data pipeline: index-free ANN for corpora that churn "
    "faster than an index rebuild (the third scale path next to IVF "
    "and IVF-PQ)",
)
def q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH conformance on planted duplicates (the q39/q91 corpus): a
    verbatim clone's signature is bit-identical to its source's, so the
    pair collides on EVERY band and the band join must surface the
    source as top-1 (cos = 1.0) — deterministically equal to the
    brute-force oracle, while genuine-neighbor recall stays pinned at
    the library level (tests/test_ann.py).

    Plan shape: both sides' 16-bit SimHash signatures are read off the
    shared unified artifact's stored ``lsh16`` word (Arrow-built
    bit-identically to the in-plan projection, r13) — the band explode
    is a shift/mask projection, the probe side broadcasts into the band
    equi-join, and only the candidate set is deduped + ranked. LSH
    itself needs NO trained index; storing the signature just moves the
    O(corpus x h x dim) fold into the one-time artifact build and drops
    the hyperplane literal trees from this plan entirely."""
    from hoard_spark.ann import search_lsh

    table, _cents, _books = _planted_index(spark, sf_dir)
    n = table.where(F.col("vec_id") < _RECALL_ALT_OFF).select(
        "vec_id", "v", "nrm", "lsh16"
    )
    # probes are corpus rows (the planted clones), so BOTH sides read
    # the artifact's stored bit-identical signature (r13) — the whole
    # search plan carries no plane literals and no per-invocation
    # signature folds
    probes = n.where(F.col("vec_id") >= _ANN_OFFSET).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("q_v"),
        F.col("nrm").alias("q_nrm"),
        F.col("lsh16").alias("q_lsh16"),
    )
    return (
        search_lsh(
            n,
            probes,
            k=1,
            dim=_EMB_DIM,
            sig_col="lsh16",
            q_sig_col="q_lsh16",
        )
        .select("q_id", "n_id", "cos")
        .transform(present_sorted, "q_id")
    )


# Filtered-ANN planting (q92): a clone of every residue-_RECALL_RES
# source lands at +_RECALL_ALT_OFF with the planted label 999 — the SAME
# filtered corpus q100's recall path searches, so both queries read ONE
# unified materialized index artifact (_planted_index); q92's
# probes are exact clones of those sources at +_ANN_OFFSET (ids disjoint
# from the q39 planted set, residue 7 vs 0 — probes are never stored).
# The search predicate admits labels {0, 999} only, so for every probe
# the filtered corpus deterministically contains its cos = 1.0
# alt-clone, plus the original source iff the source's label happens to
# be 0 — and the rank-1 tiebreak (lowest n_id) picks the source exactly
# when it survives the filter. A post-filter implementation fails this
# corpus outright: the unfiltered top-1 is the source, which the
# predicate removes for ~90% of probes.
# (_ANN_FILTER_LABEL itself is declared next to the _RECALL_* block —
# q100's filtered path, earlier in the file, is its first use.)


@query(
    "q92_ann_filtered",
    "filtered (pre-filter) vector search: IVF top-1 restricted to a "
    "label class, exact over the filtered corpus by planted clones",
    # Oracle = brute-force kNN over the label-filtered corpus, restricted
    # to the planted probes. The ENGINE applies the same predicate to the
    # assigned table BEFORE the candidate meeting (hoard_spark/ann.py
    # search_ivf(where=...)), so the label filter reaches the parquet
    # scan while the probe set still guarantees the exact answer.
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
               FROM embeddings),
    corpus AS (
        SELECT vec_id, v, label FROM e
        UNION ALL
        SELECT vec_id + {_RECALL_ALT_OFF} AS vec_id, v,
               {_ANN_FILTER_LABEL} AS label
        FROM e WHERE vec_id % {_ANN_STEP} = {_RECALL_RES}
    ),
    n AS (SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm, label
          FROM corpus),
    filt AS (SELECT * FROM n WHERE label IN (0, {_ANN_FILTER_LABEL})),
    probes AS (
        SELECT vec_id + {_ANN_OFFSET} AS q_id, v,
               SQRT(list_dot_product(v, v)) AS nrm
        FROM e WHERE vec_id % {_ANN_STEP} = {_RECALL_RES}
    ),
    scored AS (
        SELECT p.q_id, f.vec_id AS n_id,
               ROUND(list_dot_product(p.v, f.v) / (p.nrm * f.nrm), 3) AS cos
        FROM probes p JOIN filt f ON p.q_id <> f.vec_id
    ),
    ranked AS (
        SELECT q_id, n_id, cos,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, n_id) AS rn
        FROM scored
    )
    SELECT q_id, n_id, cos FROM ranked WHERE rn = 1 ORDER BY q_id
    """,
    "training-data pipeline: filtered vector search (metadata predicate "
    "+ ANN in one pass — the RAG/retrieval shape; post-filtering a "
    "finished top-k under-fills k, the standard pitfall)",
)
def q92(spark: SparkSession, sf_dir: str, nprobe: int = 6) -> DataFrame:
    """Filtered vector search conformance: top-1 neighbor restricted to
    corpus rows with ``label IN (0, 999)``, where 999 marks planted
    alt-clones of every probe's source (cos = 1.0 by construction, same
    IVF cell as the probe — found at any nprobe). Exactness over the
    FILTERED corpus is therefore deterministic: rank-1 is the lowest-id
    cos-1.0 candidate, i.e. the source itself when its label is 0, else
    the alt-clone — precisely what the brute-force oracle computes.

    The predicate enters ``search_ivf(where=...)`` and lands on the
    assigned table's PARQUET SCAN (pinned in tests/test_plan_audit.py):
    the train+assign pass is materialized per corpus fingerprint
    (the unified index artifact, ``_planted_index`` — SHARED with
    q39/q91/q99/q100) with the label column STORED in the artifact, so
    at 100 TB the filtered search reads only the label-selected row
    groups of a table built once per corpus version."""
    from hoard_spark.ann import search_ivf

    table, cents, _books = _planted_index(spark, sf_dir)
    # probes = exact clones of the residue-7 sources: read the sources'
    # (v, nrm) straight off the artifact's base rows and shift the id
    # (probe ids are disjoint from every planted row; never stored)
    probes = table.where(
        (F.col("vec_id") % _ANN_STEP == _RECALL_RES)
        & (F.col("vec_id") < _ANN_OFFSET)
    ).select(
        (F.col("vec_id") + F.lit(_ANN_OFFSET)).alias("q_id"),
        F.col("v").alias("q_v"),
        F.col("nrm").alias("q_nrm"),
    )
    return (
        search_ivf(
            table,
            cents,
            probes,
            k=1,
            nprobe=nprobe,
            where=F.col("label").isin(0, _ANN_FILTER_LABEL),
        )
        .select("q_id", "n_id", "cos")
        .transform(present_sorted, "q_id")
    )


# ---------------------------------------------------------------------------
# q40-q43: text analysis
# ---------------------------------------------------------------------------

_STOPWORDS = "'the', 'a', 'of', 'and', 'to', 'in', 'is'"


@query(
    "q40_lang_id",
    "language-ID heuristic: stopword-ratio vote per doc, tallied by "
    "declared lang",
    f"""
    WITH t AS (
        SELECT doc_id, lang,
               string_split_regex(lower(trim(text)), ' +') AS toks
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang,
               len(list_filter(toks, x -> x IN ({_STOPWORDS}))) * 1.0
                   / len(toks) AS sw_ratio
        FROM t WHERE len(toks) > 0
    )
    SELECT lang,
           CASE WHEN sw_ratio >= 0.05 THEN 'en' ELSE 'unknown' END AS pred,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM scored GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "training-data pipeline: language ID heuristic (VERDICT r1)",
)
def q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split(F.lower(F.trim("text")), " +")
    sw_ratio = F.expr(
        f"size(filter(toks, x -> x IN ({_STOPWORDS}))) * 1.0D / size(toks)"
    )
    pred = F.when(F.col("sw_ratio") >= 0.05, "en").otherwise("unknown")
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang", toks.alias("toks"))
        .where(F.size("toks") > 0)
        .withColumn("sw_ratio", sw_ratio)
        .groupBy("lang", pred.alias("pred"))
        .agg(F.count("*").alias("n"))
        .transform(present_sorted, "lang", "pred")
    )


@query(
    "q41_quality_score",
    "doc quality metrics: token count, mean token length, non-alnum "
    "ratio, quality gate",
    """
    WITH m AS (
        SELECT doc_id,
               LENGTH(text) AS n_char,
               LENGTH(string_split_regex(trim(text), ' +')) AS n_tok,
               LENGTH(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                   AS n_punct
        FROM documents
    )
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(ROUND(CAST(CAST(n_char AS DOUBLE) / n_tok
                           AS DECIMAL(25,10)), 4) AS DOUBLE) AS avg_tok_len,
           CAST(ROUND(CAST(CAST(n_punct AS DOUBLE) / n_char
                           AS DECIMAL(25,10)), 4) AS DOUBLE) AS punct_ratio,
           CASE WHEN n_tok >= 10 AND CAST(n_punct AS DOUBLE) / n_char < 0.1
                THEN 1 ELSE 0 END AS keep
    FROM m WHERE n_tok > 0 AND n_char > 0
    ORDER BY doc_id
    """,
    "training-data pipeline: quality scoring (VERDICT r1)",
)
def q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.length("text").alias("n_char"),
            F.size(split_words()).alias("n_tok"),
            F.length(
                F.regexp_replace("text", "[A-Za-z0-9 ]", "")
            ).alias("n_punct"),
        )
        .where((F.col("n_tok") > 0) & (F.col("n_char") > 0))
    )
    keep = F.when(
        (F.col("n_tok") >= 10)
        & (F.col("n_punct").cast("double") / F.col("n_char") < 0.1),
        1,
    ).otherwise(0)
    return m.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        dround(F.col("n_char").cast("double") / F.col("n_tok")).alias(
            "avg_tok_len"
        ),
        dround(F.col("n_punct").cast("double") / F.col("n_char")).alias(
            "punct_ratio"
        ),
        keep.alias("keep"),
    ).transform(ordered, "doc_id")


_BPE_PAT = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


@query(
    "q42_token_count_bpe",
    "BPE-ish regex tokenizer counts per language",
    f"""
    SELECT lang,
           CAST(SUM(LENGTH(regexp_extract_all(text, '{_BPE_PAT}')))
                AS BIGINT) AS bpe_toks,
           CAST(MAX(LENGTH(regexp_extract_all(text, '{_BPE_PAT}')))
                AS BIGINT) AS max_doc_toks
    FROM documents GROUP BY 1 ORDER BY 1
    """,
    "training-data pipeline: token counting (VERDICT r1)",
)
def q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    ntok = F.size(F.regexp_extract_all("text", F.lit(_BPE_PAT), F.lit(0)))
    return (
        load(spark, sf_dir, "documents")
        .select("lang", ntok.alias("ntok"))
        .groupBy("lang")
        .agg(
            F.sum("ntok").cast("long").alias("bpe_toks"),
            F.max("ntok").cast("long").alias("max_doc_toks"),
        )
        .orderBy("lang")
    )


@query(
    "q43_doc_fingerprint",
    "winnowing fingerprints: 5-gram rolling hashes, window-4 minima",
    # Gram hash = base-257 positional encoding of the 5 character codes:
    # INJECTIVE for single-byte text (the corpus is pure printable ASCII
    # at every SF — verified), so it is a strictly collision-free
    # "perfect" rolling hash AND portable SQL — which converts this from
    # a declared engine-only check (xxhash64 grams, VERDICT r5) to a
    # full value-hash oracle (VERDICT r6 item 3). DuckDB twin of the
    # identical pipeline:
    f"""
    WITH g AS (
      SELECT doc_id,
        list_transform(
          generate_series(1, greatest(length(text) - 4, 1)),
          i -> ascii(text[i]) * {257**4}
             + ascii(text[i+1]) * {257**3}
             + ascii(text[i+2]) * {257**2}
             + ascii(text[i+3]) * 257
             + ascii(text[i+4])
        ) AS grams
      FROM documents WHERE length(text) >= 8
    ),
    f AS (
      SELECT doc_id,
        list_distinct(list_transform(
          generate_series(1, greatest(len(grams) - 3, 1)),
          j -> list_min(grams[j:j+3])
        )) AS fps
      FROM g
    )
    SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
           list_min(fps) AS fp_min, list_max(fps) AS fp_max
    FROM f ORDER BY doc_id
    """,
    "training-data pipeline: document fingerprinting (VERDICT r1; "
    "portable-hash oracle per VERDICT r6 item 3)",
)
def q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer et al., SIGMOD'03): per doc, hash every
    5-char gram, keep each window-4 minimum, distinct. The length>=8
    filter guarantees every element_at/slice index below stays in
    bounds. Character codes are materialized ONCE per doc (split to a
    char array) so gram assembly is O(1) array indexing, not an O(i)
    substr seek per gram — the difference between O(L) and O(L²) per
    document on 100 KB docs."""
    codes = F.expr("transform(split(text, ''), c -> ascii(c))")
    grams = F.expr(
        "transform(sequence(1, greatest(length(text) - 4, 1)), i -> "
        f"element_at(codes, CAST(i AS INT)) * {257**4}L"
        f" + element_at(codes, CAST(i AS INT) + 1) * {257**3}L"
        f" + element_at(codes, CAST(i AS INT) + 2) * {257**2}L"
        " + element_at(codes, CAST(i AS INT) + 3) * 257L"
        " + element_at(codes, CAST(i AS INT) + 4))"
    )
    fps = F.expr(
        "array_distinct(transform(sequence(1, greatest(size(grams) - 3, 1)), "
        "j -> array_min(slice(grams, CAST(j AS INT), 4))))"
    )
    ncores = spark.sparkContext.defaultParallelism
    return (
        load(spark, sf_dir, "documents")
        .where(F.length("text") >= 8)
        # the rolling-hash pipeline is per-row compute-bound; fan the
        # single-file scan across all cores before evaluating it
        .repartition(ncores, "doc_id")
        .select("doc_id", "text", codes.alias("codes"))
        .select("doc_id", grams.alias("grams"))
        .select("doc_id", fps.alias("fps"))
        .select(
            "doc_id",
            F.size("fps").cast("long").alias("n_fp"),
            F.array_min("fps").alias("fp_min"),
            F.array_max("fps").alias("fp_max"),
        )
        .transform(ordered, "doc_id")
    )


# ---------------------------------------------------------------------------
# Q47: embedding-cosine near-dup (the dedup-family closer)
# ---------------------------------------------------------------------------

_RP_PLANES = 192  # 12 bands x 16 bits
_RP_BANDS = 12
_RP_SIGN_MEMO: "dict[int, list[list[float]]]" = {}


def _rp_signs(spark: SparkSession, dim: int) -> "list[list[float]]":
    """±1.0 hyperplane matrix ``signs[p][d]`` = parity of
    ``xxhash64(p, d)`` — the SAME bits the pre-r13 form derived inside
    the per-row aggregate, computed ONCE per embedding width with one
    dim-row job and memoized for the session. Re-deriving this
    deterministic constant per data row was q47's main signature cost
    (192 xxhash64 calls x dim elements x N rows)."""
    if dim not in _RP_SIGN_MEMO:
        cols = [
            F.expr(
                f"IF((xxhash64({p}, CAST(id AS INT)) & 1) = 1, 1.0D, -1.0D)"
            ).alias(f"s{p}")
            for p in range(_RP_PLANES)
        ]
        rows = sorted(
            spark.range(dim).select("id", *cols).collect(),
            key=lambda r: r["id"],
        )
        _RP_SIGN_MEMO[dim] = [
            [r[f"s{p}"] for r in rows] for p in range(_RP_PLANES)
        ]
    return _RP_SIGN_MEMO[dim]


def _rp_sign_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-keyed MATERIALIZED sign bits of the 192 random-hyperplane
    projections: (vec_id, w0, w1, w2) with bit ``p % 64`` of word
    ``p // 64`` = (projection p >= 0) — r13.

    The projections were the last interpreted higher-order-function fold
    on the q47 path (``transform(aggregate(zip_with(...)))`` over a
    192x64 literal sign matrix — Catalyst runs these lambdas
    interpreted, ~1.7 s of per-row interpreter wall at sf0.1, the exact
    cost class the Arrow ANN index build removed). The build is one
    ``mapInPandas`` batch pass with the SAME arithmetic order as the
    expression form — per plane p an ascending-d ``acc = acc +
    S[p, d] * V[:, d]`` fold, threshold ``>= 0`` — so every sign bit is
    identical (pinned by tests/test_llm_queries.py); sign extraction and
    the band xxhash64 stay pure-JVM codegen in the consumer, keeping the
    no-Python plan audit green (the artifact is a parquet scan, the
    assign_encode_batch discipline).
    """
    from hoard_spark.artifacts import get_or_build

    def build() -> DataFrame:
        from pyspark.sql.types import (
            LongType,
            StructField,
            StructType,
        )

        n = _emb_norm(spark, sf_dir).select("vec_id", "v")
        first = n.select("v").first()
        dim = len(first["v"]) if first is not None else 1
        signs = _rp_signs(spark, dim)
        words = _RP_PLANES // 64
        out_schema = StructType(
            [StructField("vec_id", LongType(), True)]
            + [StructField(f"w{k}", LongType(), True) for k in range(words)]
        )

        keep = ["vec_id"] + [f"w{k}" for k in range(words)]

        def _project(pdf_iter):
            import numpy as np

            S = np.array(signs, dtype=np.float64)  # (planes, dim)
            for pdf in pdf_iter:
                rows = len(pdf)
                if rows == 0:
                    for k in range(words):
                        pdf[f"w{k}"] = np.array([], dtype=np.int64)
                    yield pdf[keep]
                    continue
                V = np.array(pdf["v"].tolist(), dtype=np.float64)
                W = [np.zeros(rows, dtype=np.int64) for _ in range(words)]
                for p in range(_RP_PLANES):
                    acc = np.zeros(rows, dtype=np.float64)
                    for d in range(V.shape[1]):
                        acc = acc + S[p, d] * V[:, d]
                    W[p // 64] += (acc >= 0).astype(np.int64) << (p % 64)
                for k in range(words):
                    pdf[f"w{k}"] = W[k]
                yield pdf[keep]

        return n.mapInPandas(_project, out_schema)

    return get_or_build(
        spark, sf_dir, "rp_sign_words_12x16", ("embeddings",), build
    )


def _rp_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, band_id, band_hash) exploded band table, persisted.

    Random-hyperplane LSH for cosine: plane p's component for dimension d
    is ±1 by the parity of xxhash64(p, d) — deterministic, seedless, and
    identical across runs. The projections' sign bits come off the
    materialized ``_rp_sign_words`` artifact (r13 — see there; before
    that, one interpreted literal-matrix fold per row, and before r13 a
    posexplode + 192-conditional-SUM groupBy that also paid an
    N x dim-row shuffle). Band hashes here are the same
    ``xxhash64(bit, ..., bit)`` over the same 16 int bits per band as
    every earlier form — shift/mask extraction is whole-stage codegen —
    so candidates (hence q47's verified output) are unchanged, pinned by
    the band-equality test.

    Band geometry is the SCALE knob, and it is quadratic-or-not: a
    random pair (sign bits ~ fair coins) collides in a given band w.p.
    2^-bits, so expected candidates = bands * 2^-bits * N^2/2 — ALWAYS
    Theta(N^2), the constant decides viability. The old 6x6 geometry's
    constant was 6/64 ~ 9%: fine at 20k vectors (~18M candidates,
    seconds), disk-filling at 200k (~1.8B candidate rows + their
    exact-verify vector payloads = the sf10 ENOSPC). 12x16 drops the
    constant to 12/65536 ~ 1.8e-4 (3.7M candidates at 200k, ~370M at
    2M — still bucketed equi-joins, never a crossJoin) while KEEPING
    the recall bar: a cos>=0.99 pair agrees per plane w.p. ~0.955, per
    band 0.955^16 ~ 0.478, so P(miss all 12) ~ 0.522^12 ~ 4e-4 — same
    order as the old geometry's 2e-4 claim; the signature build stays
    linear (192 dots per row in the one-time artifact pass, no shuffle).
    """
    words = _rp_sign_words(spark, sf_dir)
    bits = _RP_PLANES // _RP_BANDS

    # ONE parsed SQL string instead of 192 Python-composed bit Columns:
    # building shiftright/&/cast per bit through the DSL cost ~9k py4j
    # round trips (~2 s of q47's wall was driver-side construction,
    # measured r13); the parser builds the identical shift/mask/xxhash64
    # operator tree from one string in one call. Same bits, same band
    # xxhash64 (seed 42 both forms) — band rows pinned equal by
    # tests/test_llm_queries.py::test_rp_band_hashes_match_expression_form.
    def bit_sql(p: int) -> str:
        return f"CAST(shiftright(w{p // 64}, {p % 64}) & 1 AS INT)"

    bands = F.expr(
        "array("
        + ",".join(
            f"named_struct('band_id', {b}, 'band_hash', xxhash64("
            + ",".join(bit_sql(b * bits + r) for r in range(bits))
            + "))"
            for b in range(_RP_BANDS)
        )
        + ")"
    )
    return track_cache(
        words.select("vec_id", F.explode(bands).alias("band"))
        .select("vec_id", "band.band_id", "band.band_hash")
    )


@query(
    "q47_embedding_neardup",
    "embedding near-dup pairs (cosine >= 0.99) via random-hyperplane LSH "
    "candidates + exact verify",
    # Oracle = brute-force exact threshold self-join. The LSH path misses a
    # cos>=0.99 pair w.p. ~4e-4 (12 bands x 16 bits) and verification is
    # exact, so the result hash-matches the oracle on this corpus (recall
    # pinned by test; exact clones collide in EVERY band, recall 1.0).
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    n AS (SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm FROM e)
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 3) AS cos
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.99
    ORDER BY a_id, b_id
    """,
    "training-data pipeline: embedding-cosine near-dup (VERDICT r1 dedup "
    "family; bucketed LSH, no all-pairs crossJoin)",
)
def q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _emb_norm(spark, sf_dir)  # persisted by the helper
    bands = _rp_bands(spark, sf_dir)
    a = bands.select(F.col("vec_id").alias("a_id"), "band_id", "band_hash")
    b = bands.select(F.col("vec_id").alias("b_id"), "band_id", "band_hash")
    cands = (
        a.join(b, ["band_id", "band_hash"], "inner")
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    na = n.select(
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("a_v"),
        F.col("nrm").alias("a_nrm"),
    )
    nb = n.select(
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("b_v"),
        F.col("nrm").alias("b_nrm"),
    )
    cos = F.expr(_DOT.format(a="a_v", b="b_v")) / (
        F.col("a_nrm") * F.col("b_nrm")
    )
    return (
        cands.join(na, "a_id")
        .join(nb, "b_id")
        .withColumn("cos", cos)
        .where(F.col("cos") >= 0.99)
        .select("a_id", "b_id", F.round("cos", 3).alias("cos"))
        .transform(present_sorted, "a_id", "b_id")
    )


# ---------------------------------------------------------------------------
# q51/q52: dedup cluster assignment + reproducible sampling
# ---------------------------------------------------------------------------


@query(
    "q51_dedup_clusters",
    "near-dup cluster assignment: connected components over the LSH pair "
    "graph via min-label propagation",
    # Oracle: exact-Jaccard pairs (the q35 oracle) + transitive closure as
    # a recursive CTE; cluster id = min doc_id in the component. The LSH
    # path recovers every J>=0.7 pair on this corpus (q35 hash-matches),
    # so the graphs — and therefore the components — coincide.
    f"""
    WITH RECURSIVE
    s AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS sh
        FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
              FROM documents)
        WHERE len(toks) >= 3
    ),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.7
    ),
    edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION
        SELECT b_id AS src, a_id AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach AS (
        SELECT doc_id, doc_id AS r FROM nodes
        UNION
        SELECT e.dst AS doc_id, reach.r
        FROM reach JOIN edges e ON e.src = reach.doc_id
    )
    SELECT doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
    FROM reach GROUP BY doc_id ORDER BY doc_id
    """,
    "training-data pipeline: dedup cluster assignment (the step after "
    "pair generation — keep one doc per cluster)",
    oracle_scale=f"""
    WITH RECURSIVE
    {_DUCK_PAIRS_SCALE},
    edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION
        SELECT b_id AS src, a_id AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach AS (
        SELECT doc_id, doc_id AS r FROM nodes
        UNION
        SELECT e.dst AS doc_id, reach.r
        FROM reach JOIN edges e ON e.src = reach.doc_id
    )
    SELECT doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
    FROM reach GROUP BY doc_id ORDER BY doc_id
    """,
)
def _neardup_cluster_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted near-dup cluster table (doc_id, cluster_id).

    Built once per corpus fingerprint — MinHash-LSH pairs (the q35 plan)
    then pointer-doubled connected components
    (``hoard_spark.pipeline.cluster_assignments``) — and materialized as
    parquet via ``hoard_spark.artifacts``. Every consumer (q51, q67,
    downstream dedup) reads a plain parquet scan instead of re-running
    the ~20-job pipeline: the VERDICT r3 "persisted cluster table"
    composition shape, which is also the 100 TB shape (materialize per
    corpus version, join everywhere).
    """
    from hoard_spark.artifacts import get_or_build
    from hoard_spark.pipeline import cluster_assignments

    return get_or_build(
        spark,
        sf_dir,
        "neardup_clusters",
        ("documents",),
        # the materialized pair artifact, NOT q35's sorted frame: same
        # rows (CC's min-label fixpoint is order-independent), but a
        # 3-column parquet scan instead of re-running the band+verify
        # pipeline a second time (r13)
        lambda: cluster_assignments(
            _neardup_pairs_table(spark, sf_dir).select("a_id", "b_id")
        ),
    )


def q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph — min-label
    propagation with pointer doubling (O(log diameter) rounds, each
    edge-linear, fully distributed; see
    ``hoard_spark.pipeline.cluster_assignments``). Labels converge to
    the component's min doc_id, so the output is deterministic and
    engine-independent. The assignment is materialized once per corpus
    (``_neardup_cluster_table``) and reused by q67/dedup consumers.
    """
    return (
        _neardup_cluster_table(spark, sf_dir)
        .select("doc_id", F.col("cluster_id").cast("long").alias("cluster_id"))
        .transform(ordered, "doc_id")
    )


@query(
    "q52_hash_sample",
    "reproducible content-hash sampling: ~10% of docs by md5 threshold, "
    "per-language tallies",
    # '0x19999999...' / 2^128 ~ 0.1; lowercase-hex md5 strings compare
    # lexicographically == numerically in both engines, so the sampled
    # set is identical everywhere — the reproducible-subsample property a
    # training pipeline needs (rerunning selects the SAME docs).
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
    FROM documents
    WHERE md5(text) < '1999999999999999999999999999999a'
    GROUP BY lang ORDER BY lang
    """,
    "training-data pipeline: deterministic sampling (content-hash "
    "threshold, engine-independent)",
)
def q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .where(F.md5("text") < "1999999999999999999999999999999a")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("n_chars").cast("long").alias("sampled_chars"),
        )
        .orderBy("lang")
    )


@query(
    "q53_text_clean",
    "text normalization: lowercase, strip punctuation, squeeze whitespace "
    "— per-language cleaned stats + distinct cleaned hashes",
    """
    WITH c AS (
        SELECT doc_id, lang,
               trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS clean
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LENGTH(clean)) AS BIGINT) AS clean_chars,
           CAST(COUNT(DISTINCT md5(clean)) AS BIGINT) AS distinct_clean
    FROM c GROUP BY lang ORDER BY lang
    """,
    "training-data pipeline: text cleaning/normalization stage (the step "
    "before dedup/tokenization)",
)
def q53(spark: SparkSession, sf_dir: str) -> DataFrame:
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return (
        load(spark, sf_dir, "documents")
        .select("lang", clean.alias("clean"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("clean")).cast("long").alias("clean_chars"),
            F.countDistinct(F.md5("clean")).alias("distinct_clean"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# array functions / PII redaction / stratified sampling / quantization
# (declared round 3, second batch)
# --------------------------------------------------------------------------


@query(
    "q59_array_fns",
    "array pipeline per doc: split -> distinct -> sort -> slice -> join",
    """
    WITH w AS (
        SELECT doc_id,
               string_split_regex(lower(text), ' +') AS words
        FROM documents
    )
    SELECT doc_id,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct,
           array_to_string(
               list_slice(list_sort(list_distinct(words)), 1, 3), ','
           ) AS first3
    FROM w ORDER BY doc_id
    """,
    "SURVEY.md §2C extended: array/higher-order function surface — "
    "split / array_distinct / array_sort / slice / array_join as one "
    "codegen projection (no explode, no shuffle); oracle = DuckDB list_* "
    "twins",
)
def q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole pipeline is a narrow per-row projection — zero shuffles,
    embarrassingly parallel at any scale. (array_sort/list_sort both
    compare strings bytewise; corpus is ASCII so collation is moot.)"""
    words = F.split(F.lower("text"), " +")
    dw = F.array_distinct(words)
    return (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(words).cast("long").alias("n_words"),
            F.size(dw).cast("long").alias("n_distinct"),
            F.array_join(F.slice(F.array_sort(dw), 1, 3), ",").alias(
                "first3"
            ),
        )
        .transform(ordered, "doc_id")
    )


@query(
    "q60_pii_redact",
    "PII redaction: digit-run scrubbing + per-language leak stats",
    """
    WITH r AS (
        SELECT doc_id, lang, text,
               regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS redacted,
               LENGTH(text)
                 - LENGTH(regexp_replace(text, '[0-9]', '', 'g'))
                   AS n_digit_chars
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) FILTER (n_digit_chars > 0) AS BIGINT)
               AS docs_with_digits,
           CAST(SUM(n_digit_chars) AS BIGINT) AS digit_chars,
           CAST(COUNT(DISTINCT md5(redacted)) AS BIGINT)
               AS distinct_redacted
    FROM r GROUP BY lang ORDER BY lang
    """,
    "training-data pipeline: PII scrubbing stage (regex redaction before "
    "training; the real deployment swaps in fuller patterns — emails, "
    "phones, SSNs — same plan shape)",
)
def q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Narrow projection + one partial-aggregated groupBy — scale-safe.
    Redaction patterns are ordinary Java regexes evaluated inside
    codegen; no Python in the loop."""
    red = F.regexp_replace("text", "[0-9]+", "<NUM>")
    n_digits = F.length("text") - F.length(
        F.regexp_replace("text", "[0-9]", "")
    )
    return (
        load(spark, sf_dir, "documents")
        .select(
            "lang",
            red.alias("redacted"),
            n_digits.alias("n_digit_chars"),
        )
        .groupBy("lang")
        .agg(
            F.count_if(F.col("n_digit_chars") > 0).alias(
                "docs_with_digits"
            ),
            F.sum("n_digit_chars").cast("long").alias("digit_chars"),
            F.countDistinct(F.md5("redacted")).alias("distinct_redacted"),
        )
        .orderBy("lang")
    )


@query(
    "q61_stratified_sample",
    "stratified exact-fraction sampling: 10% per language by hash rank",
    """
    WITH ranked AS (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY md5(text), doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n_total
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(MAX(n_total) AS BIGINT) AS n_total,
           CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
    FROM ranked
    WHERE rn <= CAST(CEIL(0.1 * n_total) AS BIGINT)
    GROUP BY lang ORDER BY lang
    """,
    "training-data pipeline: stratified sampling — exact per-stratum "
    "fraction (vs q52's Bernoulli hash threshold), deterministic via "
    "content-hash ranking",
)
def q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle on lang (the stratum key): rank-by-hash within each
    stratum, keep ceil(0.1·N). Deterministic (content hash, doc_id
    tiebreak) and exact-fraction, unlike df.sampleBy which is Bernoulli.
    Skew note: a 100 TB corpus has few langs ⇒ heavy strata; the window
    shape still streams (rank is computed in sort order, no
    materialization), but for extreme strata the q52 threshold sampler
    is the shuffle-free alternative."""
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.md5("text"), "doc_id")
    wc = Window.partitionBy("lang")
    ranked = load(spark, sf_dir, "documents").select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("n_total"),
    )
    return (
        ranked.where(
            F.col("rn") <= F.ceil(F.lit(0.1) * F.col("n_total")).cast("long")
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.max("n_total").cast("long").alias("n_total"),
            F.sum("n_chars").cast("long").alias("sampled_chars"),
        )
        .orderBy("lang")
    )


@query(
    "q62_embedding_quantize",
    "int8 symmetric quantization of embeddings + reconstruction error",
    """
    WITH e AS (
        SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    m AS (
        SELECT vec_id, MAX(ABS(x)) / 127 AS scale FROM e GROUP BY vec_id
    ),
    err AS (
        SELECT e.label,
               POWER(e.x - FLOOR(e.x / m.scale + 0.5) * m.scale, 2) AS e2
        FROM e JOIN m ON e.vec_id = m.vec_id
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_elems,
           CAST(ROUND(CAST(CAST(SUM(CAST(e2 * 1000000 AS DECIMAL(38,18)))
                AS DOUBLE) / COUNT(*) AS DECIMAL(25,10)), 4) AS DOUBLE)
               AS mse_e6
    FROM err GROUP BY label ORDER BY label
    """,
    "training-data pipeline: embedding int8 quantization (the storage/"
    "serving compression step) with exact reconstruction-error audit",
)
def q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode once, per-vector max via a partition window (one shuffle,
    128 elems per key — no skew possible), quantize/dequantize as codegen
    arithmetic, aggregate MSE per label. floor(x/s + 0.5) is the
    round-half-up both engines compute identically on doubles (ROUND on
    doubles differs between engines on representation ties). Exact
    DECIMAL(38,18) accumulation of the ×1e6-scaled squared errors keeps
    the parallel sum order immaterial. Corpus vectors are random normal —
    max|x| > 0 always (all-zero vectors would need a NULLIF guard)."""
    from pyspark.sql import Window

    e = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "label", F.explode("embedding").alias("xf"))
        .select("vec_id", "label", F.col("xf").cast("double").alias("x"))
    )
    scale = (F.max(F.abs("x")).over(Window.partitionBy("vec_id")) / 127).alias(
        "scale"
    )
    q = F.floor(F.col("x") / F.col("scale") + 0.5)
    e2 = F.pow(F.col("x") - q * F.col("scale"), 2)
    return (
        e.withColumn("scale", scale)
        .withColumn("e2", e2)
        .groupBy("label")
        .agg(
            F.count("*").alias("n_elems"),
            dround(
                F.sum((F.col("e2") * 1_000_000).cast("decimal(38,18)"))
                .cast("double")
                / F.count("*")
            ).alias("mse_e6"),
        )
        .transform(present_sorted, "label")
    )


@query(
    "q63_chunking",
    "sliding-window document chunking: 100-word chunks, stride 80",
    """
    WITH w AS (
        SELECT doc_id, string_split_regex(text, ' +') AS words,
               len(string_split_regex(text, ' +')) AS n
        FROM documents
    ),
    s AS (
        SELECT doc_id, words,
               unnest(range(0, n, 80)) AS start
        FROM w
    )
    SELECT doc_id,
           CAST(start // 80 AS INT) AS chunk_idx,
           CAST(len(list_slice(words, start + 1, start + 100)) AS INT)
               AS n_words,
           md5(array_to_string(
               list_slice(words, start + 1, start + 100), ' '
           )) AS chunk_md5
    FROM s ORDER BY doc_id, chunk_idx
    """,
    "training-data pipeline: chunking for embedding/context windows — "
    "100-word sliding windows with 20-word overlap (stride 80), the "
    "stage between cleaning and embedding",
)
def q63(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequence() builds the stride-80 start offsets per doc, posexplode
    emits (chunk_idx, start), slice() cuts the window — all codegen
    array ops, one narrow explode (fan-out = n_words/80 per doc), zero
    joins. At 100 TB this is the exact map-side shape you want: chunking
    never shuffles; downstream embedding batches by chunk."""
    words = F.split("text", " +")
    d = load(spark, sf_dir, "documents").select(
        "doc_id", words.alias("words"), F.size(words).alias("n")
    )
    s = d.select(
        "doc_id",
        "words",
        F.posexplode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(80))
        ).alias("chunk_idx", "start"),
    )
    chunk = F.slice("words", F.col("start") + 1, F.lit(100))
    return s.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size(chunk).cast("int").alias("n_words"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    ).transform(ordered, "doc_id", "chunk_idx")


@query(
    "q64_tfidf_top_term",
    "TF-IDF: per-document top term over corpus document frequencies",
    """
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(regexp_replace(regexp_replace(
                   lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')),
                   ' ')) AS word
        FROM documents
    ),
    tf AS (
        SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ),
    df AS (
        SELECT word, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.word,
               tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS score
        FROM tf JOIN df USING (word) CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, word, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, word) AS rk
        FROM scored
    )
    SELECT doc_id, word AS top_term,
           CAST(ROUND(CAST(score AS DECIMAL(25,10)), 4) AS DOUBLE)
               AS tfidf
    FROM ranked WHERE rk = 1 ORDER BY doc_id
    """,
    "training-data pipeline: TF-IDF term weighting (quality filtering / "
    "topic signals); corpus-level doc frequencies joined back per term",
)
def q64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two hash aggregates (tf, df) + one equi-join on word + one per-doc
    window. The df table is vocabulary-sized (≪ corpus) — at 100 TB the
    word join is the classic dimension join; Zipf skew on stopwords is
    absorbed by the tf pre-aggregation (one row per (doc, word), so the
    hot word's fan-in is bounded by n_docs, not token count)."""
    from pyspark.sql import Window

    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    toks = docs.select(
        "doc_id", F.explode(F.split(clean, " ")).alias("word")
    )
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dfreq = toks.groupBy("word").agg(
        F.countDistinct("doc_id").alias("df")
    )
    scored = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            (
                F.col("tf") * F.log(F.col("n_docs") / F.col("df"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "word")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "doc_id",
            F.col("word").alias("top_term"),
            dround(F.col("score")).alias("tfidf"),
        )
        .transform(ordered, "doc_id")
    )


# ---------------------------------------------------------------------------
# q65-q68: repetition scoring, contamination check, canonical dedup pick,
# BM25 retrieval — the rest of the training-data curation loop
# ---------------------------------------------------------------------------


@query(
    "q65_repetition_score",
    "intra-document repetition signal: duplicate word-3-gram ratio per "
    "doc (Gopher-style quality gate)",
    """
    WITH t AS (
        SELECT doc_id, toks, len(toks) AS n
        FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
              FROM documents)
        WHERE len(toks) >= 3
    ),
    g AS (
        SELECT doc_id,
               unnest(list_transform(range(1, n - 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                   AS s
        FROM t
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(DISTINCT s) AS BIGINT) AS n_distinct,
           CAST(ROUND(CAST(1.0 - CAST(COUNT(DISTINCT s) AS DOUBLE)
                           / COUNT(*) AS DECIMAL(25,10)), 4) AS DOUBLE)
               AS dup_ratio,
           CASE WHEN CAST(COUNT(DISTINCT s) AS DOUBLE) / COUNT(*) <= 0.8
                THEN 1 ELSE 0 END AS flagged
    FROM g GROUP BY doc_id ORDER BY doc_id
    """,
    "training-data pipeline: repetition filtering (Gopher/C4 quality "
    "signal — docs dominated by repeated n-grams are boilerplate)",
)
def q65(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode + window ``lead`` gram stream, REVERTED to this form
    in r14 after the r13 zip-slice rewrite measured slower both ways
    (driver r13: 0.63x; two same-window interleaved min-of-N A/Bs in
    r14: 0.87-0.98 s window vs 1.45-1.53 s zip — VERDICT r13 item 3
    ordered prove-or-revert). Why the window wins HERE and not in the
    rest of the shingle family: q65's countDistinct plans as an
    Expand + two-Exchange distinct aggregate over the gram rows, and
    the window's doc_id partitioning is exactly the aggregate's
    grouping, so the whole distinct pipeline runs partition-local after
    ONE token Exchange (guide §2.4 — aggregation reuses the window's
    partitioning), where the zip form pays both gram Exchanges plus the
    per-row arrays_zip materialization. Both forms shuffle O(corpus)
    bytes a constant number of times, so neither is scale-broken; the
    measured evidence picks this one. Duplicates are the signal here
    (no distinct before the aggregate); no joins."""
    from pyspark.sql import Window

    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.posexplode(split_words()).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    t2 = F.lead("tok", 2).over(w)
    grams = (
        toks.select(
            "doc_id",
            F.concat_ws(
                " ", "tok", F.lead("tok", 1).over(w), t2
            ).alias("s"),
            t2.alias("t2"),
        )
        .where(F.col("t2").isNotNull())
        .select("doc_id", "s")
    )
    distinct_ratio = F.col("n_distinct").cast("double") / F.col("n_grams")
    return (
        grams.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.countDistinct("s").alias("n_distinct"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_distinct",
            dround(F.lit(1.0) - distinct_ratio).alias("dup_ratio"),
            F.when(distinct_ratio <= 0.8, 1).otherwise(0).alias("flagged"),
        )
        .transform(ordered, "doc_id")
    )


@query(
    "q66_contamination",
    "benchmark contamination check: per-doc share of word-3-gram "
    "shingles that also appear in a held-out benchmark set",
    f"""
    WITH s AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS sh
        FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
              FROM documents)
        WHERE len(toks) >= 3
    ),
    b AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 50 = 0),
    c AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % 50 <> 0)
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlap,
           CAST(ROUND(CAST(
                SUM(CASE WHEN b.g IS NOT NULL THEN 1.0 ELSE 0.0 END)
                / COUNT(*) AS DECIMAL(25,10)), 4) AS DOUBLE)
               AS overlap_ratio,
           CASE WHEN SUM(CASE WHEN b.g IS NOT NULL THEN 1.0 ELSE 0.0 END)
                     / COUNT(*) >= 0.5
                THEN 1 ELSE 0 END AS contaminated
    FROM c LEFT JOIN b ON c.g = b.g
    GROUP BY c.doc_id ORDER BY c.doc_id
    """,
    "training-data pipeline: eval-set decontamination (n-gram overlap "
    "against a benchmark corpus; docs above threshold are excluded)",
)
def q66(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The benchmark shingle set is tiny relative to the corpus (eval
    suites are MBs; the corpus is TBs), so it is broadcast — corpus
    shingles stream map-side through the hash lookup with no shuffle of
    the big side. The only wide op is the per-doc aggregate. Benchmark
    membership here is the deterministic doc_id % 50 == 0 slice; a real
    deployment passes its own benchmark table through the same plan."""
    sh = _shingle_rows(spark, sf_dir).select("doc_id", "s")
    bench = (
        sh.where(F.col("doc_id") % 50 == 0)
        .select("s")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = sh.where(F.col("doc_id") % 50 != 0)
    hits = F.sum(F.coalesce(F.col("hit"), F.lit(0)))
    ratio = hits.cast("double") / F.count("*")
    return (
        corpus.join(F.broadcast(bench), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            hits.cast("long").alias("n_overlap"),
            dround(ratio).alias("overlap_ratio"),
            F.when(ratio >= 0.5, 1).otherwise(0).alias("contaminated"),
        )
        .transform(ordered, "doc_id")
    )


@query(
    "q67_canonical_pick",
    "quality-aware canonical selection: per near-dup cluster keep the "
    "highest-token-count doc (ties to lowest doc_id)",
    # Oracle: q51's transitive closure (recursive CTE over the exact
    # Jaccard pair graph) + per-cluster argmax on token count. The LSH
    # path recovers every J>=0.7 pair on this corpus (q35 hash-matches),
    # so clusters — and the picks — coincide.
    f"""
    WITH RECURSIVE
    s AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS sh
        FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
              FROM documents)
        WHERE len(toks) >= 3
    ),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
              >= 0.7
    ),
    edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION
        SELECT b_id AS src, a_id AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach AS (
        SELECT doc_id, doc_id AS r FROM nodes
        UNION
        SELECT e.dst AS doc_id, reach.r
        FROM reach JOIN edges e ON e.src = reach.doc_id
    ),
    comp AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id),
    m AS (
        SELECT comp.doc_id, comp.cluster_id,
               len(string_split_regex(trim(d.text), ' +')) AS n_tok
        FROM comp JOIN documents d ON d.doc_id = comp.doc_id
    ),
    r AS (
        SELECT doc_id, cluster_id, n_tok,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY n_tok DESC, doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
        FROM m
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(doc_id AS BIGINT) AS canonical_doc,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(n_tok AS BIGINT) AS canon_tok
    FROM r WHERE rk = 1 ORDER BY cluster_id
    """,
    "training-data pipeline: dedup end-game — one canonical doc kept "
    "per near-dup cluster, rest dropped",
    oracle_scale=f"""
    WITH RECURSIVE
    {_DUCK_PAIRS_SCALE},
    edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION
        SELECT b_id AS src, a_id AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach AS (
        SELECT doc_id, doc_id AS r FROM nodes
        UNION
        SELECT e.dst AS doc_id, reach.r
        FROM reach JOIN edges e ON e.src = reach.doc_id
    ),
    comp AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id),
    m AS (
        SELECT comp.doc_id, comp.cluster_id,
               len(string_split_regex(trim(d.text), ' +')) AS n_tok
        FROM comp JOIN documents d ON d.doc_id = comp.doc_id
    ),
    r AS (
        SELECT doc_id, cluster_id, n_tok,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY n_tok DESC, doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
        FROM m
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(doc_id AS BIGINT) AS canonical_doc,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(n_tok AS BIGINT) AS canon_tok
    FROM r WHERE rk = 1 ORDER BY cluster_id
    """,
)
def q67(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One join + one window over the PERSISTED cluster table
    (``_neardup_cluster_table`` — shared with q51, built at most once per
    corpus): never recomputes the LSH/CC pipeline inline (VERDICT r3
    item 4). Clusters are tiny (near-dup groups), so the window partition
    never skews; the documents join is keyed on doc_id and prunes to
    cluster members via the join itself (cluster table ≪ corpus at
    scale)."""
    from pyspark.sql import Window

    clusters = _neardup_cluster_table(spark, sf_dir)
    ntok = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(split_words()).cast("long").alias("n_tok"),
    )
    m = clusters.join(ntok, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_tok"), "doc_id")
    return (
        m.select(
            "doc_id",
            "cluster_id",
            "n_tok",
            F.row_number().over(w).alias("rk"),
            F.count("*").over(Window.partitionBy("cluster_id")).alias(
                "n_members"
            ),
        )
        .where(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("canonical_doc"),
            "n_members",
            F.col("n_tok").alias("canon_tok"),
        )
        .transform(ordered, "cluster_id")
    )


@query(
    "q68_bm25_topk",
    "BM25 keyword retrieval: top-20 docs for a fixed query "
    "('spark', 'merge', 'vector'), k1=1.2 b=0.75",
    """
    WITH d AS (
        SELECT doc_id,
               len(string_split_regex(trim(text), ' +')) AS dl
        FROM documents
    ),
    st AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM d
    ),
    toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(text), ' +')) AS word
        FROM documents
    ),
    tf AS (
        SELECT doc_id, word, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM toks WHERE word IN ('spark', 'merge', 'vector')
        GROUP BY 1, 2
    ),
    df AS (SELECT word, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
    sc AS (
        SELECT tf.doc_id,
               ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / st.avgdl)) AS s
        FROM tf JOIN df USING (word)
                JOIN d ON d.doc_id = tf.doc_id
                CROSS JOIN st
    )
    SELECT doc_id,
           CAST(ROUND(CAST(CAST(SUM(CAST(s AS DECIMAL(25,10))) AS DOUBLE)
                AS DECIMAL(25,10)), 4) AS DOUBLE) AS bm25
    FROM sc GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
    "training-data pipeline: keyword retrieval over the corpus (BM25 — "
    "data selection / targeted subset mining)",
)
def q68(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retrieval as three hash aggregates and two dimension
    joins: tf is corpus-wide but filtered to the query's terms BEFORE
    the aggregate (the explode feeds a codegen filter, so only matching
    tokens reach the shuffle); df and the corpus stats are scalar-sized
    and broadcast. Per-term partial scores accumulate in DECIMAL so the
    3-term sum is order-independent, then one global top-20."""
    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(split_words()).cast("long").alias("dl"),
    )
    st = d.agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    toks = docs.select(
        "doc_id", F.explode(split_words()).alias("word")
    ).where(F.col("word").isin("spark", "merge", "vector"))
    tf = toks.groupBy("doc_id", "word").agg(
        F.count("*").cast("double").alias("tf")
    )
    dfreq = tf.groupBy("word").agg(
        F.count("*").cast("double").alias("df")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    s = idf * (F.col("tf") * 2.2) / (
        F.col("tf")
        + 1.2
        * (1.0 - 0.75 + 0.75 * F.col("dl").cast("double") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(dfreq), "word")
        .join(d, "doc_id")
        .crossJoin(F.broadcast(st))
        .select("doc_id", s.alias("s"))
        .groupBy("doc_id")
        .agg(dround(dsum10(F.col("s"))).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


@query(
    "q71_bigram_lm_score",
    "corpus bigram-LM fluency score: per-doc mean negative log "
    "likelihood under corpus bigram counts (CCNet-style LM filtering)",
    """
    WITH toks AS (
        SELECT doc_id, toks, len(toks) AS n
        FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
              FROM documents)
        WHERE len(toks) >= 2
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, n), i -> toks[i])) AS w1,
               unnest(list_transform(range(1, n), i -> toks[i+1])) AS w2
        FROM toks
    ),
    bgc AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
    ugc AS (SELECT w1, SUM(c2) AS c1 FROM bgc GROUP BY 1),
    scored AS (
        SELECT bg.doc_id,
               ln(CAST(ugc.c1 AS DOUBLE) / bgc.c2) AS nll
        FROM bg JOIN bgc USING (w1, w2) JOIN ugc USING (w1)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(ROUND(CAST(CAST(SUM(CAST(nll AS DECIMAL(25,10)))
                AS DOUBLE) / COUNT(*) AS DECIMAL(25,10)), 4) AS DOUBLE)
               AS avg_nll
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
    "training-data pipeline: LM-based quality filtering (docs scored "
    "by fluency under a corpus n-gram model; high-NLL docs are noise)",
)
def q71(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bigram/unigram model tables are Zipf-compressed (one row per
    DISTINCT bigram — vocabulary-sized, ≪ corpus) and pre-aggregated,
    so the hot word's fan-in is bounded by the distinct-bigram table,
    not token count; they broadcast here, and fall back to a shuffle
    dimension join when a giant vocab outgrows the broadcast budget.
    The doc-side bigram stream is the posexplode + window ``lead``
    shape, REVERTED in r14 from the r13 zip-slice rewrite after it
    measured slower both ways (driver r13: 0.84x; r14 same-window
    interleaved A/B: 1.20/1.33 s window vs 1.64/1.87 s zip min/median
    of 9 reps — the same §2.4 partitioning-reuse effect as q65: the
    bigram-count aggregate and final per-doc aggregate both ride
    behind the one token Exchange, while the zip form re-shuffles gram
    rows and pays the arrays_zip materialization per row)."""
    from pyspark.sql import Window

    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.posexplode(split_words()).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        toks.select(
            "doc_id",
            F.col("tok").alias("w1"),
            F.lead("tok", 1).over(w).alias("w2"),
        )
        .where(F.col("w2").isNotNull())
    )
    bgc = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    ugc = bgc.groupBy("w1").agg(F.sum("c2").alias("c1"))
    nll = F.log(F.col("c1").cast("double") / F.col("c2"))
    return (
        bg.join(F.broadcast(bgc), ["w1", "w2"])
        .join(F.broadcast(ugc), "w1")
        .select("doc_id", nll.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            davg(F.col("nll")).alias("avg_nll"),
        )
        .transform(ordered, "doc_id")
    )


@query(
    "q72_span_dedup",
    "exact repeated-span (8-gram) cross-document duplication stats",
    """
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), ' +') AS t
        FROM documents
    ),
    spans AS (
        SELECT doc_id, array_to_string(t[i:i+7], ' ') AS g
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
              FROM toks WHERE len(t) >= 8)
    ),
    gc AS (SELECT g, COUNT(DISTINCT doc_id) AS nd FROM spans GROUP BY g),
    per_doc AS (
        SELECT s.doc_id,
               COUNT(*) AS n_spans,
               SUM(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS n_shared
        FROM spans s JOIN gc c USING (g)
        GROUP BY s.doc_id
    )
    SELECT doc_id,
           CAST(n_spans AS BIGINT) AS n_spans,
           CAST(n_shared AS BIGINT) AS n_shared,
           CAST(ROUND(CAST(n_shared * 1.0 / n_spans AS DECIMAL(25,10)), 4)
                AS DOUBLE) AS share_ratio
    FROM per_doc ORDER BY doc_id
    """,
    "training-data pipeline: exact substring-level dedup stats (the "
    "Lee et al. 2022 'Deduplicating Training Data' / CCNet shape — "
    "cross-document repeated 8-gram spans mark boilerplate and "
    "copy-paste contamination)",
)
def q72(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repeated-span statistics: how many of a doc's 8-gram
    token spans also occur in at least one OTHER document.

    Shape (the exact-substring-dedup standard at scale): the zip-slice
    explode streams spans with no token shuffle (the shingle-family
    plan, r13); then ONE exact pre-aggregation on
    (gram, doc_id) — the unavoidable shuffle of an exact dedup, with
    map-side combine compressing within-doc repeats — and the
    cross-document count rides a window over the pre-aggregated
    (gram, doc) rows instead of joining the span table back to a
    gram-frequency table (the r9 shape: cache + groupBy + join +
    re-shuffle of the FULL span table; the window form shuffles only
    the dedup-compressed rows and needs no cache). Span occurrences
    duplicated WITHIN one doc only (nd = 1) are not counted as
    shared — the signal is cross-document contamination, not
    self-repetition (q65 covers that)."""
    from pyspark.sql import Window

    toks = split_words()
    zipped = F.arrays_zip(
        *[F.slice(toks, 1 + i, F.size(toks) - 7) for i in range(8)]
    )
    spans = (
        spread(load(spark, sf_dir, "documents"))
        .where(F.size(toks) >= 8)
        .select("doc_id", F.explode(zipped).alias("_z"))
        .select(
            "doc_id",
            F.concat_ws(
                " ", *[F.col("_z")[str(i)] for i in range(8)]
            ).alias("g"),
        )
    )
    gd = spans.groupBy("g", "doc_id").agg(F.count("*").alias("c"))
    nd = F.count("*").over(Window.partitionBy("g"))
    return (
        gd.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_spans"),
            F.sum(
                F.when(F.col("nd") >= 2, F.col("c")).otherwise(0)
            ).alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_shared",
            dround(F.col("n_shared") / F.col("n_spans")).alias(
                "share_ratio"
            ),
        )
        .transform(ordered, "doc_id")
    )


@query(
    "q73_pack_contexts",
    "training-context packing estimate: concat-and-chunk docs into "
    "512-token contexts per lang",
    """
    WITH d AS (
        SELECT doc_id, lang,
               len(string_split_regex(trim(text), ' +')) AS n_tok
        FROM documents
    ),
    c AS (
        SELECT lang, doc_id, n_tok,
               SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
        FROM d
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_toks,
           CAST((MAX(cum) + 511) // 512 AS BIGINT) AS n_contexts,
           CAST(SUM(CASE WHEN (cum - n_tok) // 512 != (cum - 1) // 512
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle,
           CAST(ROUND(CAST(SUM(n_tok) * 1.0 /
                (((MAX(cum) + 511) // 512) * 512) AS DECIMAL(25,10)), 4)
                AS DOUBLE) AS fill_ratio
    FROM c GROUP BY lang ORDER BY lang
    """,
    "training-data pipeline: batch/context packing planner (GPT-style "
    "concat-and-chunk — how many fixed-size contexts a corpus fills, "
    "how many docs straddle a boundary, and the fill ratio)",
)
def q73(spark: SparkSession, sf_dir: str, context: int = 512) -> DataFrame:
    """Concat-and-chunk packing statistics per language.

    Packing order is part of the contract (doc_id within lang), so the
    running token total is a per-lang window cumsum — one shuffle keyed
    on lang, then a linear pass; the recurrence-free formulation (doc's
    context = its ending token's chunk) is what makes this expressible
    as a window instead of a sequential fold. Straddle count flags docs
    split across a context boundary; fill_ratio is corpus tokens over
    context capacity. At 100 TB the lang partition count bounds
    parallelism — for a single giant lang, sub-shard the packing key
    (e.g. (lang, shard) with per-shard offsets) exactly like the q24
    two-pass global ranking."""
    from pyspark.sql import Window

    cap = int(context)
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(split_words()).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("cum", F.sum("n_tok").over(w))
    straddle = (
        F.expr(f"(cum - n_tok) DIV {cap}") != F.expr(f"(cum - 1) DIV {cap}")
    ).cast("long")
    return (
        c.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_toks"),
            F.expr(f"(MAX(cum) + {cap - 1}) DIV {cap}").alias("n_contexts"),
            F.sum(straddle).alias("n_straddle"),
        )
        .select(
            "lang",
            "n_docs",
            "total_toks",
            "n_contexts",
            "n_straddle",
            dround(
                F.col("total_toks") / (F.col("n_contexts") * F.lit(cap))
            ).alias("fill_ratio"),
        )
        .orderBy("lang")
    )


@query(
    "q74_quality_blend",
    "multi-signal quality blend: within-lang percentile-normalized "
    "length/diversity/stopword signals, top-5 docs per lang",
    f"""
    WITH t AS (
        SELECT doc_id, lang, string_split_regex(trim(text), ' +') AS toks
        FROM documents
    ),
    sig AS (
        SELECT doc_id, lang,
               len(toks) AS n_tok,
               len(list_distinct(toks)) * 1.0 / len(toks) AS uniq_ratio,
               len(list_filter(toks, x -> x IN ({_STOPWORDS})))
                   * 1.0 / len(toks) AS stop_ratio
        FROM t WHERE len(toks) > 0
    ),
    pr AS (
        SELECT doc_id, lang,
               PERCENT_RANK() OVER (PARTITION BY lang
                                    ORDER BY n_tok, doc_id) AS p1,
               PERCENT_RANK() OVER (PARTITION BY lang
                                    ORDER BY uniq_ratio, doc_id) AS p2,
               PERCENT_RANK() OVER (PARTITION BY lang
                                    ORDER BY stop_ratio, doc_id) AS p3
        FROM sig
    ),
    blend AS (
        SELECT doc_id, lang,
               CAST(ROUND(CAST((p1 + p2 + p3) / 3.0 AS DECIMAL(25,10)), 4)
                    AS DOUBLE) AS q,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY (p1 + p2 + p3) DESC, doc_id)
                   AS rk
        FROM pr
    )
    SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, q
    FROM blend WHERE rk <= 5 ORDER BY lang, rk
    """,
    "training-data pipeline: FineWeb-style multi-signal quality "
    "filtering — raw heuristics are percentile-normalized so they blend "
    "on a common scale, then ranked per language",
)
def q74(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three cheap heuristics (token count, distinct-token ratio,
    stopword ratio) percentile-normalized WITHIN language — partitioned
    windows, never a global single-partition window (the q24 lesson);
    lang cardinality bounds the partition count, and a skewed giant
    lang sub-shards like q24's two-pass ranking. Percent ranks are
    exact rationals, so the cross-engine hash match is stable; the
    doc_id tiebreak makes every rank unique and deterministic."""
    from pyspark.sql import Window

    toks = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", split_words().alias("toks")
    )
    sig = toks.where(F.size("toks") > 0).select(
        "doc_id",
        "lang",
        F.size("toks").alias("n_tok"),
        (
            F.size(F.array_distinct("toks")).cast("double")
            / F.size("toks")
        ).alias("uniq_ratio"),
        (
            F.size(
                F.expr(f"filter(toks, x -> x IN ({_STOPWORDS}))")
            ).cast("double")
            / F.size("toks")
        ).alias("stop_ratio"),
    )
    def pr(col: str) -> Column:
        return F.percent_rank().over(
            Window.partitionBy("lang").orderBy(col, "doc_id")
        )

    ranked = sig.select(
        "doc_id",
        "lang",
        pr("n_tok").alias("p1"),
        pr("uniq_ratio").alias("p2"),
        pr("stop_ratio").alias("p3"),
    )
    s = F.col("p1") + F.col("p2") + F.col("p3")
    w_rk = Window.partitionBy("lang").orderBy(s.desc(), "doc_id")
    return (
        ranked.select(
            "lang",
            F.row_number().over(w_rk).cast("long").alias("rk"),
            "doc_id",
            dround(s / F.lit(3.0)).alias("q"),
        )
        .where(F.col("rk") <= 5)
        .orderBy("lang", "rk")
    )


# ---------------------------------------------------------------------------
# q79: exact thresholded Jaccard pairs via prefix-filtered simjoin
# ---------------------------------------------------------------------------


@query(
    "q79_simjoin_threshold",
    "ALL doc pairs with exact word-3-gram Jaccard >= 0.5, "
    "(lang, source)-blocked, via prefix-filtered set-similarity join",
    f"""
    WITH s AS (
        SELECT doc_id, lang, source, {_DUCK_SHINGLES} AS sh
        FROM (SELECT doc_id, lang, source,
                     string_split_regex(trim(text), ' +') AS toks
              FROM documents)
        WHERE len(toks) >= 3
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
           CAST(len(a.sh) AS BIGINT) AS na,
           CAST(len(b.sh) AS BIGINT) AS nb,
           CAST(ROUND(CAST(len(list_intersect(a.sh, b.sh)) * 1.0 /
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                 AS DECIMAL(25,10)), 4) AS DOUBLE)
               AS jaccard
    FROM s a JOIN s b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
    ORDER BY a_id, b_id
    """,
    "training-data pipeline: exact thresholded near-dup (prefix filter, "
    "VERDICT r5 item 6)",
)
def q79(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded exact Jaccard join — the prefix-filter scale path.

    Unlike q37 (global top-10, whose 10th-best value is noise-level and
    therefore unprunable), a declared threshold lets prefix filtering
    bound candidate generation by Σ_s df_prefix(s)² instead of
    Σ_s df(s)²: each doc emits only its |s| − ⌈t·|s|⌉ + 1 RAREST
    shingles as join keys, so the Zipf head (which sorts last) drops out
    of the join entirely. See hoard_spark/simjoin.py; the no-false-
    negative guarantee is the Bayardo/Chaudhuri prefix-filter theorem,
    and the driver oracle is the quadratic brute-force twin.
    """
    from hoard_spark.simjoin import jaccard_similarity_join

    sh = track_cache(
        _shingle_rows(spark, sf_dir).select(
            "doc_id", "lang", "source", "s", "_df", "_r", "_n"
        )
    )
    return jaccard_similarity_join(
        sh, threshold=0.5, block=["lang", "source"]
    ).transform(present_sorted, "a_id", "b_id")


# ---------------------------------------------------------------------------
# q90: exact top-k similarity via the prefix-filter threshold ladder
# ---------------------------------------------------------------------------

# Clones appended with 3 unique tokens: a doc with m tokens has m-2
# shingles, its clone m+1 (3 new), so the planted pair's Jaccard is
# (m-2)/(m+1) — 0.77-0.97 across the corpus — and the ladder's first
# rung (0.7) already yields far more than k pairs.
_TOPK_OFFSET = 2_000_000
_TOPK_SUFFIX = " qq7z xx8z vv9z"
_TOPK_K = 20


@query(
    "q90_topk_simjoin_ladder",
    "EXACT global top-20 Jaccard pairs over a planted-clone corpus via "
    "the descending prefix-filter threshold ladder (the scale answer to "
    "the q37-shaped contract when top-k is above noise)",
    f"""
    WITH d AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {_TOPK_OFFSET}, text || '{_TOPK_SUFFIX}'
        FROM documents WHERE doc_id % 10 = 0
    ),
    s AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS sh
        FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
              FROM d)
        WHERE len(toks) >= 3
    ),
    p AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
               CAST(len(a.sh) AS BIGINT) AS na,
               CAST(len(b.sh) AS BIGINT) AS nb,
               CAST(ROUND(CAST(len(list_intersect(a.sh, b.sh)) * 1.0 /
                     (len(a.sh) + len(b.sh)
                      - len(list_intersect(a.sh, b.sh)))
                     AS DECIMAL(25,10)), 4) AS DOUBLE) AS jaccard
        FROM s a JOIN s b ON a.doc_id < b.doc_id
    )
    SELECT * FROM p ORDER BY jaccard DESC, a_id, b_id LIMIT {_TOPK_K}
    """,
    "training-data pipeline: exact top-k near-dup via threshold ladder "
    "(hoard_spark/simjoin.py topk_similar_pairs, round 7)",
    # Scale twin: pairs sharing zero grams have Jaccard 0 and cannot
    # reach a top-20 whose planted floor is >= 0.77, so ranking only the
    # shared-shingle meetings is exact.
    oracle_scale=f"""
    WITH d AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {_TOPK_OFFSET}, text || '{_TOPK_SUFFIX}'
        FROM documents WHERE doc_id % 10 = 0
    ),
    s AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS sh
        FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
              FROM d)
        WHERE len(toks) >= 3
    ),
    e AS (SELECT doc_id, unnest(sh) AS g FROM s),
    meet AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, len(sh) AS n FROM s),
    p AS (
        SELECT m.a_id, m.b_id,
               CAST(m.inter AS BIGINT) AS inter,
               CAST(x.n AS BIGINT) AS na,
               CAST(y.n AS BIGINT) AS nb,
               CAST(ROUND(CAST(m.inter * 1.0 / (x.n + y.n - m.inter)
                    AS DECIMAL(25,10)), 4) AS DOUBLE) AS jaccard
        FROM meet m
        JOIN sz x ON x.doc_id = m.a_id
        JOIN sz y ON y.doc_id = m.b_id
    )
    SELECT * FROM p ORDER BY jaccard DESC, a_id, b_id LIMIT {_TOPK_K}
    """,
)
def q90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ladder finds the EXACT global top-k without ever running the
    unpruned posting join: the first prefix-filtered rung (t=0.7) that
    yields >= k pairs provably contains the top-k (completeness at t),
    and the planted clones guarantee the corpus's top-k sits well above
    that rung. The oracle is the quadratic brute force — the exact
    computation the ladder's pruning avoids."""
    from hoard_spark.simjoin import topk_similar_pairs

    # A suffix clone's shingle set is its source's set plus the <=3
    # boundary grams that cross into the appended tokens — so the whole
    # augmented corpus derives from the materialized shingle artifact
    # with NO re-shingling: an id-shifted filter for the body plus a
    # map-side literal projection for the boundary (suffix tokens never
    # occur in the corpus text, so boundary grams cannot duplicate body
    # grams). Base docs reuse the artifact's stored prefix-filter ranks
    # (_df/_r/_n are intrinsic to the doc under the shared order —
    # adding clones cannot change them); only the ~10% clone rows are
    # re-ranked, with boundary-gram df computed over the tiny boundary
    # table itself so the shared rarest-first order stays truthful.
    from hoard_spark.simjoin import rank_shingle_rows

    art = _shingle_rows(spark, sf_dir)
    base_sh = art.select("doc_id", "s", "_df", "_r", "_n")
    clone_body = art.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(_TOPK_OFFSET)).alias("doc_id"),
        "s",
        "_df",
    )
    sfx = _TOPK_SUFFIX.split()
    docs = load(spark, sf_dir, "documents")
    toks = split_words()
    m = F.size(toks)
    nonblank = F.length(F.trim("text")) > 0
    boundary = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(_TOPK_OFFSET)).alias("doc_id"),
        F.explode(
            F.array_compact(
                F.array(
                    F.when(
                        nonblank & (m >= 2),
                        F.concat_ws(
                            " ",
                            F.get(toks, m - 2),
                            F.get(toks, m - 1),
                            F.lit(sfx[0]),
                        ),
                    ),
                    F.when(
                        nonblank,
                        F.concat_ws(
                            " ",
                            F.get(toks, m - 1),
                            F.lit(sfx[0]),
                            F.lit(sfx[1]),
                        ),
                    ),
                    F.lit(" ".join(sfx)),
                )
            )
        ).alias("s"),
    )
    # boundary-gram df over the boundary table itself (tiny: <=3 rows
    # per clone; suffix tokens never occur in corpus text, so these
    # grams are disjoint from the artifact's and the single-valued-df
    # invariant holds across the union)
    bdf = boundary.groupBy("s").agg(F.count("*").alias("_df"))
    boundary = boundary.join(bdf, "s").select("doc_id", "s", "_df")
    clones = rank_shingle_rows(clone_body.unionByName(boundary))
    sh = track_cache(base_sh.unionByName(clones))
    return topk_similar_pairs(sh, _TOPK_K, ladder=(0.7, 0.5))


# ---------------------------------------------------------------------------
# q94 — label-outlier detection via class prototypes (round 8)
# ---------------------------------------------------------------------------

_EMB_DIM = 64  # embeddings.embedding width (TESTDATA.md)

# DuckDB twin of the per-label centroid: element-wise decimal-stabilized
# AVG (exact DECIMAL(25,10) accumulation / count — plain double AVG is
# order-dependent and drifts ~1e-13 run-to-run, enough to flip a 3dp
# cosine rounding boundary; see queries/__init__.davg), 1-based list
# indexing. Generated once at import; the oracle must stay a plain string.
_DUCK_CENTROID = (
    "["
    + ", ".join(
        f"CAST(SUM(CAST(v[{i}] AS DECIMAL(25,10))) AS DOUBLE)"
        f" / COUNT(v[{i}])"
        for i in range(1, _EMB_DIM + 1)
    )
    + "]"
)


@query(
    "q94_label_outliers",
    "label-noise detection via class prototypes: per-label embedding "
    "centroid, bottom-3 cosine-to-own-centroid per label",
    f"""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    cent AS (
        SELECT label, {_DUCK_CENTROID} AS c
        FROM e GROUP BY label
    ),
    scored AS (
        SELECT e.label, e.vec_id,
               ROUND(list_dot_product(e.v, cent.c) /
                     (SQRT(list_dot_product(e.v, e.v)) *
                      SQRT(list_dot_product(cent.c, cent.c))), 3) AS cos_c
        FROM e JOIN cent ON e.label = cent.label
    ),
    ranked AS (
        SELECT label, vec_id, cos_c,
               ROW_NUMBER() OVER (PARTITION BY label
                                  ORDER BY cos_c, vec_id) AS rn
        FROM scored
    )
    SELECT label, vec_id, cos_c, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 3 ORDER BY label, rn
    """,
    "training-data pipeline: label-noise / mislabel detection via class "
    "prototypes (Northcutt et al., JAIR 2021 confident-learning family) "
    "— the curation step between dedup and sampling",
)
def q94(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-prototype outliers: one aggregation pass builds a 64-dim
    centroid per label (64 partial-aggregating AVGs — map-side combine,
    one shuffle of #labels x 64 cells), the tiny prototype table
    broadcasts back onto the corpus, and the cosine runs as a codegen
    zip_with/aggregate fold — no UDFs, no corpus self-join.

    The bottom-3 ranking shuffles on label, but the ``rn <= 3`` filter
    is a WindowGroupLimit in Spark 3.5+/4.x: each map task keeps only
    its local bottom-3 per label before the exchange, so the shuffle
    carries O(tasks x labels x 3) rows, not the corpus — the same
    two-phase top-k a hand-rolled treeAggregate would do.

    Ties at the 3dp rounding are broken by vec_id on BOTH sides, so the
    selected rows are deterministic across engines."""
    from pyspark.sql import Window

    n = _emb_norm(spark, sf_dir)  # (vec_id, label, v, nrm), persisted
    cent = (
        n.groupBy("label")
        .agg(
            # decimal-stabilized per-element mean: Spark's parallel double
            # AVG is merge-order-dependent (~1e-13 drift run to run) —
            # enough to flip bottom-3 membership when a cosine sits on a
            # 3dp rounding boundary. Exact DECIMAL(25,10) accumulation
            # (dsum10) makes the centroid bit-stable; the oracle mirrors
            # it (_DUCK_CENTROID).
            # ONE parsed SQL string (64 dsum10 terms through the DSL
            # cost ~1 s of Py4J round trips per invocation, r13); each
            # element is dsum10's exact expansion.
            F.expr(
                "array("
                + ",".join(
                    f"CAST(SUM(CAST(v[{i}] AS DECIMAL(25,10))) AS "
                    f"DOUBLE) / COUNT(v[{i}])"
                    for i in range(_EMB_DIM)
                )
                + ")"
            ).alias("c")
        )
        .withColumn(
            "cnrm",
            F.sqrt(F.expr("aggregate(c, 0.0D, (acc, x) -> acc + x * x)")),
        )
    )
    dot = F.expr(
        "aggregate(zip_with(v, c, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
    )
    scored = n.join(F.broadcast(cent), "label").select(
        "label",
        "vec_id",
        F.round(dot / (F.col("nrm") * F.col("cnrm")), 3).alias("cos_c"),
    )
    w = Window.partitionBy("label").orderBy("cos_c", "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .transform(present_sorted, "label", "rn")
    )


# ---------------------------------------------------------------------------
# q95 — per-document n-gram novelty (round 8)
# ---------------------------------------------------------------------------


@query(
    "q95_ngram_novelty",
    "per-document 3-gram novelty: fraction of each doc's distinct "
    "shingles whose first corpus occurrence (by doc_id) is that doc",
    f"""
    WITH s AS (
        SELECT doc_id, unnest({_DUCK_SHINGLES}) AS g
        FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
              FROM documents)
        WHERE len(toks) >= 3
    ),
    f AS (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY g) AS first_doc
        FROM s
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new,
           CAST(ROUND(CAST(SUM(CASE WHEN first_doc = doc_id
                                    THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
                           AS DECIMAL(25,10)), 4) AS DOUBLE) AS novelty
    FROM f GROUP BY doc_id ORDER BY doc_id
    """,
    "training-data pipeline: novelty / diversity measurement — the "
    "per-doc complement of q66's contamination overlap (a doc whose "
    "grams all appeared earlier is template/boilerplate; a curation "
    "pass keeps high-novelty docs first)",
)
def q95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence novelty in two shuffles: the per-doc DISTINCT
    shingle set is a scan of the materialized shingle artifact
    (``_shingle_rows``), the min-doc_id-per-gram window shuffles on the
    gram (high cardinality — V^3 domain — so no skewed reducer), and the
    per-doc ratio re-aggregates on doc_id. Nothing is quadratic and no
    gram list is ever collected; at 100 TB this is the same
    one-pass-per-key shape as the q72 span dedup.

    The ratio goes through the dround/DECIMAL(25,10) discipline:
    n_new/n_grams is a small-integer ratio, exactly the population that
    hits true 4dp midpoints where double ROUND diverges between
    engines."""
    rows = _shingle_rows(spark, sf_dir).select("doc_id", "s")
    from pyspark.sql import Window

    first = F.min("doc_id").over(Window.partitionBy("s"))
    flagged = rows.select(
        "doc_id", (first == F.col("doc_id")).cast("long").alias("is_new")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("is_new").alias("n_new"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_new",
            dround(F.col("n_new") / F.col("n_grams")).alias("novelty"),
        )
        .transform(ordered, "doc_id")
    )


# ---------------------------------------------------------------------------
# q96 — bigram collocations via pointwise mutual information (round 8)
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5  # ignore rare pairs: PMI is noise-dominated below this


@query(
    "q96_pmi_bigrams",
    "collocation mining: top-20 adjacent word pairs by pointwise mutual "
    f"information (bigram count >= {_PMI_MIN_COUNT})",
    f"""
    WITH d AS (
        SELECT string_split_regex(trim(text), ' +') AS toks FROM documents
    ),
    bg AS (
        SELECT unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i+1])) AS g
        FROM d WHERE len(toks) >= 2
    ),
    bc AS (SELECT g, COUNT(*) AS c_ab FROM bg GROUP BY g),
    uc AS (
        SELECT tok, COUNT(*) AS c
        FROM (SELECT unnest(toks) AS tok FROM d) GROUP BY tok
    ),
    tot AS (
        SELECT (SELECT SUM(c) FROM uc) AS n_t,
               (SELECT SUM(c_ab) FROM bc) AS n_bi
    ),
    scored AS (
        SELECT string_split(g, ' ')[1] AS a,
               string_split(g, ' ')[2] AS b,
               c_ab,
               ln((c_ab * 1.0 / tot.n_bi) /
                  ((ca.c * 1.0 / tot.n_t) * (cb.c * 1.0 / tot.n_t))) AS pmi
        FROM bc
        CROSS JOIN tot
        JOIN uc ca ON ca.tok = string_split(g, ' ')[1]
        JOIN uc cb ON cb.tok = string_split(g, ' ')[2]
        WHERE c_ab >= {_PMI_MIN_COUNT}
    )
    SELECT a, b, CAST(c_ab AS BIGINT) AS c_ab, ROUND(pmi, 4) AS pmi
    FROM scored ORDER BY ROUND(pmi, 4) DESC, a, b LIMIT 20
    """,
    "training-data pipeline: collocation extraction (Church & Hanks, "
    "CL 1990) — the corpus-level pair-association complement of q64's "
    "per-doc TF-IDF",
)
def q96(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI over adjacent word pairs: the bigram build is the same
    shuffle-free zip-slice explode as the shingle family (r13 — the
    lead window's token shuffle is gone, so both count aggregates get
    map-side partials straight off the scan); bigram and
    unigram counts are two partial-aggregating shuffles on
    high-cardinality keys; the two unigram joins shuffle the bigram
    table on the word (at web scale the unigram table is itself large —
    no broadcast is forced, AQE picks one when the vocab fits); the two
    corpus totals are 1-row broadcast cross joins. Ranking on the
    rounded PMI with the (a, b) tiebreak keeps the top-20 deterministic
    across engines (ln agrees to ~1 ulp)."""
    toks = split_words()
    docs = spread(load(spark, sf_dir, "documents"))
    zipped = F.arrays_zip(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
    )
    big = (
        docs.where(F.size(toks) >= 2)
        .select(F.explode(zipped).alias("_z"))
        .select(F.col("_z")["0"].alias("a"), F.col("_z")["1"].alias("b"))
    )
    bc = big.groupBy("a", "b").agg(F.count("*").alias("c_ab"))
    uni = (
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    n_t = uni.agg(F.sum("c").alias("n_t"))
    n_bi = bc.agg(F.sum("c_ab").alias("n_bi"))
    scored = (
        bc.where(F.col("c_ab") >= _PMI_MIN_COUNT)
        .join(uni.select(F.col("tok").alias("a"),
                         F.col("c").alias("c_a")), "a")
        .join(uni.select(F.col("tok").alias("b"),
                         F.col("c").alias("c_b")), "b")
        .crossJoin(F.broadcast(n_t))
        .crossJoin(F.broadcast(n_bi))
        .withColumn(
            "pmi",
            F.log(
                (F.col("c_ab") / F.col("n_bi"))
                / ((F.col("c_a") / F.col("n_t"))
                   * (F.col("c_b") / F.col("n_t")))
            ),
        )
    )
    return (
        scored.select(
            "a", "b", "c_ab", F.round("pmi", 4).alias("pmi")
        )
        .orderBy(F.desc("pmi"), "a", "b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q97 — temperature-scaled source mixture weights (round 8)
# ---------------------------------------------------------------------------

_MIX_ALPHA = 0.3  # multilingual-LM style temperature (p_i^alpha renorm)
_MIX_BUDGET = 10_000  # docs to draw under the mixture


@query(
    "q97_mixture_weights",
    f"data mixing: per-source temperature-scaled sampling weights "
    f"(p^alpha renormalized, alpha={_MIX_ALPHA}) and target doc counts "
    f"for a {_MIX_BUDGET}-doc budget",
    f"""
    WITH s AS (
        SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ),
    shares AS (
        SELECT source, n_docs,
               n_docs * 1.0 / SUM(n_docs) OVER () AS share,
               POW(n_docs * 1.0 / SUM(n_docs) OVER (), {_MIX_ALPHA}) AS w_raw
        FROM s
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(ROUND(CAST(share AS DECIMAL(25,10)), 4) AS DOUBLE) AS share,
           ROUND(w_raw / SUM(w_raw) OVER (), 4) AS weight,
           CAST(ROUND({_MIX_BUDGET} * w_raw / SUM(w_raw) OVER (), 0)
                AS BIGINT) AS target_n
    FROM shares ORDER BY source
    """,
    "training-data pipeline: domain/source mixture reweighting "
    "(temperature sampling, Conneau & Lample NeurIPS 2019 / XLM-R "
    "style) — upsamples rare sources, caps dominant ones; completes "
    "the sampling family next to q52 (Bernoulli) and q61 (stratified)",
)
def q97(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One partial-aggregating shuffle on source builds the per-source
    counts; everything after runs on the #sources-row aggregate (two
    unbounded windows over a dimension-sized frame — post-aggregation,
    so the single-partition window is scale-free). ``share`` is a
    small-integer ratio and goes through the dround/DECIMAL discipline;
    ``weight``/``target_n`` derive from pow() (irrational — plain
    4dp/integer rounding agrees across engines)."""
    from pyspark.sql import Window

    s = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"))
    )
    wall = Window.partitionBy()
    shares = s.select(
        "source",
        "n_docs",
        (F.col("n_docs") / F.sum("n_docs").over(wall)).alias("share"),
        F.pow(
            F.col("n_docs") / F.sum("n_docs").over(wall), F.lit(_MIX_ALPHA)
        ).alias("w_raw"),
    )
    return shares.select(
        "source",
        "n_docs",
        dround(F.col("share")).alias("share"),
        F.round(F.col("w_raw") / F.sum("w_raw").over(wall), 4).alias(
            "weight"
        ),
        F.round(
            F.lit(_MIX_BUDGET) * F.col("w_raw") / F.sum("w_raw").over(wall),
            0,
        )
        .cast("long")
        .alias("target_n"),
    ).transform(present_sorted, "source")


# ---------------------------------------------------------------------------
# q98 — set-containment dedup (truncation/excerpt detection, round 8)
# ---------------------------------------------------------------------------

# Every 10th doc gets a TRUNCATED copy (first max(3, ceil(0.6·|toks|))
# tokens) planted at doc_id + _CONT_OFFSET: the truncation's shingle set
# is a strict subset of its source's, so containment(A→B) = 1.0 exactly
# while Jaccard(A, B) is only ~0.6 — the pair class the symmetric join
# (q79/q90) structurally cannot flag at a high threshold. 0.6·n in IEEE
# rounds DOWN (0.6 < 3/5 in binary), so ceil lands on the exact integer
# in both engines and the planted texts are bit-identical.
_CONT_OFFSET = 3_000_000
_CONT_T = 0.9
_CONT_MIN = 5


@query(
    "q98_containment_dedup",
    f"directed set-containment join at t={_CONT_T}: truncated/excerpt "
    "copies found via A-side prefix-filtered posting join",
    f"""
    WITH base AS (
        SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
        FROM documents
    ),
    aug AS (
        SELECT doc_id, toks FROM base
        UNION ALL
        SELECT doc_id + {_CONT_OFFSET} AS doc_id,
               list_slice(toks, 1,
                          GREATEST(3, CAST(ceil(0.6 * len(toks)) AS BIGINT)))
                   AS toks
        FROM base WHERE doc_id % 10 = 0
    ),
    s AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM aug
        WHERE len(toks) >= 3
    ),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
               CAST(len(a.sh) AS BIGINT) AS na,
               CAST(len(b.sh) AS BIGINT) AS nb,
               len(list_intersect(a.sh, b.sh)) * 1.0 / len(a.sh) AS c
        FROM s a JOIN s b ON a.doc_id <> b.doc_id
        WHERE len(a.sh) >= {_CONT_MIN}
    )
    SELECT a_id, b_id, inter, na, nb,
           CAST(ROUND(CAST(c AS DECIMAL(25,10)), 4) AS DOUBLE)
               AS containment
    FROM pairs WHERE c >= {_CONT_T} ORDER BY a_id, b_id
    """,
    "training-data pipeline: asymmetric dedup — truncations, quoted "
    "excerpts, docs embedded in compilations (containment ~1.0 where "
    "Jaccard is small); hoard_spark/simjoin.py containment_join",
    # Scale twin: a qualifying DIRECTED pair has |A∩B| >= t*|A| >= 1, so
    # it meets in the shared-shingle join (both directions of each
    # unordered meeting are kept — the a<>b asymmetry is the semantics).
    oracle_scale=f"""
    WITH base AS (
        SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
        FROM documents
    ),
    aug AS (
        SELECT doc_id, toks FROM base
        UNION ALL
        SELECT doc_id + {_CONT_OFFSET} AS doc_id,
               list_slice(toks, 1,
                          GREATEST(3, CAST(ceil(0.6 * len(toks)) AS BIGINT)))
                   AS toks
        FROM base WHERE doc_id % 10 = 0
    ),
    s AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM aug
        WHERE len(toks) >= 3
    ),
    e AS (SELECT doc_id, unnest(sh) AS g FROM s),
    meet AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        FROM e a JOIN e b ON a.g = b.g AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, len(sh) AS n FROM s),
    pairs AS (
        SELECT m.a_id, m.b_id,
               CAST(m.inter AS BIGINT) AS inter,
               CAST(x.n AS BIGINT) AS na,
               CAST(y.n AS BIGINT) AS nb,
               m.inter * 1.0 / x.n AS c
        FROM meet m
        JOIN sz x ON x.doc_id = m.a_id
        JOIN sz y ON y.doc_id = m.b_id
        WHERE x.n >= {_CONT_MIN}
    )
    SELECT a_id, b_id, inter, na, nb,
           CAST(ROUND(CAST(c AS DECIMAL(25,10)), 4) AS DOUBLE)
               AS containment
    FROM pairs WHERE c >= {_CONT_T} ORDER BY a_id, b_id
    """,
)
def q98(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment via the A-side prefix-filtered posting join
    (simjoin.containment_join): only the contained side's prefix posts
    into the join, the containing side posts everything, and length +
    positional filters ride the meeting — never an all-pairs plan. The
    oracle is the quadratic directional brute force the prefix filter
    avoids; the planted truncations guarantee the answer set is
    non-trivial (one containment-1.0 row per planted copy, minimum)."""
    from hoard_spark.simjoin import containment_join

    # A prefix truncation to k tokens contains exactly the shingles
    # whose first occurrence starts at 0-based pos <= k-3 — so the
    # truncated side is a pure position FILTER of the materialized
    # shingle artifact (its stored ``pos``), joined with the per-doc k
    # (a cheap scalar projection over documents): no re-shingling.
    # Base docs reuse the artifact's stored prefix-filter ranks; the
    # truncated rows keep their _df (the order key, still single-valued
    # — same grams, same value) but their _r/_n are stale after the
    # filter, so only the ~10% clone rows pay a re-ranking window.
    from hoard_spark.simjoin import rank_shingle_rows

    docs = load(spark, sf_dir, "documents")
    toks = split_words()
    k = F.greatest(
        F.lit(3), F.ceil(F.lit(0.6) * F.size(toks)).cast("int")
    )
    ks = docs.where(F.col("doc_id") % 10 == 0).select(
        "doc_id", k.alias("_k")
    )
    art = _shingle_rows(spark, sf_dir)
    clone_sh = rank_shingle_rows(
        art.where(F.col("doc_id") % 10 == 0)
        .join(ks, "doc_id")
        .where(F.col("pos") + F.lit(2) < F.col("_k"))
        .select(
            (F.col("doc_id") + F.lit(_CONT_OFFSET)).alias("doc_id"),
            "s",
            "_df",
        )
    )
    # Tracked localCheckpoint rather than track_cache: the union is
    # read three times downstream (a/b posting sides + the verify
    # arrays), and the checkpoint materializes it ~2x cheaper than
    # building the InMemoryRelation's columnar batches (measured 1.0 s
    # vs 0.5 s at sf0.1); lineage truncation is equally effective for
    # both, and track_checkpoint registers the blocks for explicit
    # release (ADVICE r11 #3) — fine for a bench-local query body.
    sh = track_checkpoint(
        art.select("doc_id", "s", "_df", "_r", "_n").unionByName(clone_sh)
    )
    return (
        containment_join(sh, _CONT_T, min_size=_CONT_MIN)
        .transform(present_sorted, "a_id", "b_id")
    )
