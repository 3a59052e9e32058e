"""Streaming-store compaction (streaming/compact.py).

Contract: ``compact()`` changes only the FILE LAYOUT of a store — the
row multiset of every table, the emitted-pair/score/match semantics of
every later batch, and replay idempotence are all bit-identical before
and after; a compaction that crashes mid-apply is rolled forward from
its manifest by the next store construction (or explicit ``recover``),
never leaving missing or duplicated rows behind.
"""

import collections
import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

import hoard_spark.streaming.compact as C
from hoard_spark.streaming.compact import (
    compact_flat,
    recover,
    store_file_count,
)
from hoard_spark.streaming.containment import ContainmentIndex
from hoard_spark.streaming.neardup import NearDupIndex
from hoard_spark.streaming.novelty import NoveltyIndex
from hoard_spark.streaming.vectors import VectorDupIndex


def _docs(spark, lo: int, hi: int, seed: str = "s"):
    rows = [
        (i, " ".join(f"{seed}{i % 7}w{j}" for j in range(12)))
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pair_set(idx):
    return {
        (r["a_id"], r["b_id"], r["inter"], r["na"], r["nb"])
        for r in idx.pairs().collect()
    }


def _post_set(idx):
    return {
        (r["g"], r["doc_id"], r["r"], r["n"])
        for r in idx.postings().collect()
    }


# -- containment (batch=<id> partitioned) --------------------------------


def test_containment_compact_preserves_rows_and_future_batches(
    spark, tmp_path
):
    """Three admitted batches fold into batch=-1 + the newest; postings,
    fingerprints and pairs are row-identical, and batch 3 after
    compaction emits exactly what an uncompacted twin emits."""
    a = ContainmentIndex(spark, str(tmp_path / "a"), threshold=0.8)
    b = ContainmentIndex(spark, str(tmp_path / "b"), threshold=0.8)
    for i, (lo, hi) in enumerate([(0, 8), (8, 16), (16, 24)]):
        batch = _docs(spark, lo, hi)
        a.process_batch(batch, i)
        b.process_batch(batch, i)

    posts, pairs = _post_set(a), _pair_set(a)
    fps = {tuple(r) for r in a.doc_fingerprints().drop("batch").collect()}
    files_before = store_file_count(spark, a.post_path)

    stats = a.compact(target_files=2)
    assert stats["postings"]["folded_batches"] == 2
    assert _post_set(a) == posts
    assert _pair_set(a) == pairs
    assert {
        tuple(r) for r in a.doc_fingerprints().drop("batch").collect()
    } == fps
    assert store_file_count(spark, a.post_path) < files_before
    dirs = sorted(os.listdir(str(tmp_path / "a" / "postings")))
    assert [d for d in dirs if d.startswith("batch=")] == [
        "batch=-1",
        "batch=2",
    ]

    nxt = _docs(spark, 24, 32)
    a.process_batch(nxt, 3)
    b.process_batch(nxt, 3)
    assert _post_set(a) == _post_set(b)
    assert _pair_set(a) == _pair_set(b)


def test_containment_replay_after_compact_is_idempotent(spark, tmp_path):
    """The newest batch (the only one a checkpoint can replay) is never
    folded, so a byte-identical replay still overwrites its own
    directory and changes nothing."""
    idx = ContainmentIndex(spark, str(tmp_path / "c"), threshold=0.8)
    idx.process_batch(_docs(spark, 0, 8), 0)
    last = _docs(spark, 8, 16)
    idx.process_batch(last, 1)
    idx.compact(target_files=2)
    posts, pairs = _post_set(idx), _pair_set(idx)
    idx.process_batch(last, 1)  # replay
    assert _post_set(idx) == posts
    assert _pair_set(idx) == pairs


def test_containment_second_compact_refolds_minus_one(spark, tmp_path):
    """batch=-1 participates in the next fold, so repeated compaction
    keeps the directory count at consolidated + newest."""
    idx = ContainmentIndex(spark, str(tmp_path / "d"), threshold=0.8)
    idx.process_batch(_docs(spark, 0, 8), 0)
    idx.process_batch(_docs(spark, 8, 16), 1)
    idx.compact(target_files=2)
    posts = _post_set(idx)
    idx.process_batch(_docs(spark, 16, 24), 2)
    idx.process_batch(_docs(spark, 24, 32), 3)
    stats = idx.compact(target_files=2)
    # folds batch=-1, batch=1 (already folded 0), batch=2; keeps batch=3
    assert stats["postings"]["folded_batches"] == 3
    assert _post_set(idx) > posts  # superset: nothing lost, new rows in
    dirs = sorted(
        d
        for d in os.listdir(str(tmp_path / "d" / "postings"))
        if d.startswith("batch=")
    )
    assert dirs == ["batch=-1", "batch=3"]


# -- flat append stores ---------------------------------------------------


def test_novelty_compact_preserves_rows(spark, tmp_path):
    a = NoveltyIndex(spark, str(tmp_path / "na"))
    b = NoveltyIndex(spark, str(tmp_path / "nb"))
    for i, (lo, hi) in enumerate([(0, 10), (10, 20), (20, 30)]):
        batch = _docs(spark, lo, hi)
        a.process_batch(batch, i)
        b.process_batch(batch, i)
    grams = {tuple(r) for r in a.grams().collect()}
    scores = {tuple(r) for r in a.scores().collect()}
    a.compact(target_files=2)
    assert {tuple(r) for r in a.grams().collect()} == grams
    assert {tuple(r) for r in a.scores().collect()} == scores
    assert store_file_count(spark, a.gram_path) <= 2
    nxt = _docs(spark, 30, 40)
    a.process_batch(nxt, 3)
    b.process_batch(nxt, 3)
    assert {tuple(r) for r in a.scores().collect()} == {
        tuple(r) for r in b.scores().collect()
    }


def _text(src: int) -> str:
    return " ".join(f"s{src}w{j}" for j in range(20))


def _vec(src: int) -> list:
    """md5-derived, so distinct sources are uncorrelated."""
    return [
        int.from_bytes(hashlib.md5(f"{src}:{j}".encode()).digest()[:4], "big")
        / float(1 << 31)
        - 1.0
        for j in range(16)
    ]


def _dedup_store(spark, kind: str, path: str):
    """(store, batch builder) for one banded dedup store; the builder
    maps (id, src) items to rows, and items sharing ``src`` are clones."""
    if kind == "neardup":
        idx = NearDupIndex(spark, path, threshold=0.7)
        content, schema = _text, "doc_id long, text string"
    else:
        idx = VectorDupIndex(spark, path, dim=16, threshold=0.92)
        content, schema = _vec, "vec_id long, embedding array<double>"
    return idx, lambda items: spark.createDataFrame(
        [(i, content(src)) for i, src in items], schema
    )


def _multiset(df):
    return collections.Counter(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    )


@pytest.mark.parametrize("kind", ["neardup", "vectors"])
def test_dedup_store_compact_preserves_rows_and_next_match(
    spark, tmp_path, kind
):
    """Three batches (each after the first plants a clone of an earlier
    item), then ``compact``: the signature and match multisets are
    unchanged, the store holds fewer files, and a fourth batch still
    emits its planted clone."""
    idx, rows = _dedup_store(spark, kind, str(tmp_path / kind))
    for b in range(3):
        clone = [(10 * b + 8, 10 * (b - 1))] if b else []
        idx.process_batch(
            rows([(i, i) for i in range(10 * b, 10 * b + 8)] + clone), b
        )
    sigs, matches = _multiset(idx.signatures()), _multiset(idx.matches())
    assert {(r[0], r[1]) for r in matches} == {(18, 0), (28, 10)}
    files_before = store_file_count(spark, idx.path)

    idx.compact(target_files=2)
    assert _multiset(idx.signatures()) == sigs
    assert _multiset(idx.matches()) == matches
    assert store_file_count(spark, idx.path) < files_before

    idx.process_batch(rows([(30, 30), (38, 20)]), 3)
    assert (38, 20, 3) in {
        (r["new_id"], r["matched_id"], r["batch"])
        for r in idx.matches().collect()
    }


def test_flat_compact_noops_below_target(spark, tmp_path):
    idx = NoveltyIndex(spark, str(tmp_path / "nc"))
    idx.process_batch(_docs(spark, 0, 10), 0)
    stats = idx.compact(target_files=10_000)
    assert stats["grams"]["skipped"] == "at_target"
    assert compact_flat(
        spark, str(tmp_path / "absent"), "x long", 4
    ) == {"skipped": "absent"}


# -- crash recovery -------------------------------------------------------


def _crash_at_commit(monkeypatch):
    """Make the apply step die at the commit point (manifest written,
    nothing applied) — the worst-case crash window."""
    real_apply = C._apply

    def boom(fs, root, m):
        raise RuntimeError("simulated crash before apply")

    monkeypatch.setattr(C, "_apply", boom)
    return real_apply


def test_flat_crash_at_commit_rolls_forward(spark, tmp_path, monkeypatch):
    idx = NoveltyIndex(spark, str(tmp_path / "nf"))
    for i in range(3):
        idx.process_batch(_docs(spark, i * 10, (i + 1) * 10), i)
    grams = {tuple(r) for r in idx.grams().collect()}

    _crash_at_commit(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated"):
        idx.compact(target_files=2)
    monkeypatch.undo()
    assert os.path.exists(str(tmp_path / "nf/grams/_compact_manifest.json"))

    # partial apply: one old file already deleted by the crashed run
    mani = json.loads(
        open(str(tmp_path / "nf/grams/_compact_manifest.json")).read()
    )
    os.remove(str(tmp_path / "nf/grams") + "/" + mani["delete"][0])

    # next store construction rolls the compaction forward
    idx2 = NoveltyIndex(spark, str(tmp_path / "nf"))
    assert not os.path.exists(
        str(tmp_path / "nf/grams/_compact_manifest.json")
    )
    assert {tuple(r) for r in idx2.grams().collect()} == grams
    assert store_file_count(spark, idx2.gram_path) <= 2


def test_partitioned_crash_at_commit_rolls_forward(
    spark, tmp_path, monkeypatch
):
    idx = ContainmentIndex(spark, str(tmp_path / "cf"), threshold=0.8)
    for i in range(3):
        idx.process_batch(_docs(spark, i * 8, (i + 1) * 8), i)
    posts = _post_set(idx)

    _crash_at_commit(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated"):
        idx.compact(target_files=2)
    monkeypatch.undo()

    # partial apply: the crashed run already deleted one folded dir
    mani_path = str(tmp_path / "cf/postings/_compact_manifest.json")
    mani = json.loads(open(mani_path).read())
    import shutil

    shutil.rmtree(
        str(tmp_path / "cf/postings") + f"/batch={mani['fold'][0]}"
    )

    recover(spark, idx.post_path)
    assert not os.path.exists(mani_path)
    assert _post_set(idx) == posts
    dirs = sorted(
        d
        for d in os.listdir(str(tmp_path / "cf/postings"))
        if d.startswith("batch=")
    )
    assert dirs == ["batch=-1", "batch=2"]


def test_file_uri_rooted_store_compacts(spark, tmp_path):
    """The fsutil layer makes compaction URI-transparent: a store rooted
    at file:// compacts identically (the engine-maintenance rooting
    discipline, tests/test_engine_uri_matrix.py)."""
    idx = ContainmentIndex(
        spark, f"file://{tmp_path}/u", threshold=0.8
    )
    for i in range(3):
        idx.process_batch(_docs(spark, i * 8, (i + 1) * 8), i)
    posts = _post_set(idx)
    stats = idx.compact(target_files=2)
    assert stats["postings"]["folded_batches"] == 2
    assert _post_set(idx) == posts
    dirs = sorted(
        d
        for d in os.listdir(str(tmp_path / "u" / "postings"))
        if d.startswith("batch=")
    )
    assert dirs == ["batch=-1", "batch=2"]


def test_corrupt_manifest_is_discarded(spark, tmp_path):
    """A crash mid-manifest-write (truncated JSON) means the commit
    point was never reached: recover discards manifest + staging and
    leaves the store untouched instead of raising forever."""
    idx = NoveltyIndex(spark, str(tmp_path / "ng"))
    idx.process_batch(_docs(spark, 0, 10), 0)
    grams = {tuple(r) for r in idx.grams().collect()}
    mani = str(tmp_path / "ng/grams/_compact_manifest.json")
    with open(mani, "w") as f:
        f.write('{"kind": "flat", "dele')  # truncated
    with pytest.warns(RuntimeWarning, match="corrupt compaction"):
        assert recover(spark, idx.gram_path) is False
    assert not os.path.exists(mani)
    assert {tuple(r) for r in idx.grams().collect()} == grams


def test_annindex_compact_preserves_table_and_search(spark, tmp_path):
    """The ANN index store's per-batch table appends consolidate with
    identical read-side semantics (dropDuplicates winner unchanged) and
    bounded file count; stats rows survive byte-identically."""
    import random

    from hoard_spark.streaming.annindex import AnnIndexStore

    rng = random.Random(7)

    def vecs(lo, hi):
        rows = [
            (i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(lo, hi)
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    idx = AnnIndexStore(spark, str(tmp_path / "ann"), k=2, m=2, ks=4)
    for i, (lo, hi) in enumerate([(0, 40), (40, 80), (80, 120)]):
        idx.process_batch(vecs(lo, hi), i)
    table = {
        (r["vec_id"], r["cell"], r["pq"]) for r in idx.table().collect()
    }
    stats = {tuple(r) for r in idx.stats().collect()}
    files_before = store_file_count(spark, idx._table_path())
    res = idx.compact(target_files=2)
    assert "files_after" in res["table"]
    assert {
        (r["vec_id"], r["cell"], r["pq"]) for r in idx.table().collect()
    } == table
    assert {tuple(r) for r in idx.stats().collect()} == stats
    assert store_file_count(spark, idx._table_path()) < files_before

    # a restart over the compacted store keeps processing
    idx2 = AnnIndexStore(spark, str(tmp_path / "ann"), k=2, m=2, ks=4)
    idx2.process_batch(vecs(120, 160), 3)
    assert idx2.table().count() == 160
