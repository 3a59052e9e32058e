"""WarehouseFS (Hadoop FileSystem wrapper): direct contract pins.

The artifact cache, compact swap, and streaming sketch publish all ride
these primitives against arbitrary Hadoop stores; each is exercised here
over a ``file://`` URI (same API surface as HDFS/S3A).
"""

from __future__ import annotations

from hoard_spark.fsutil import WarehouseFS


def _uri(p):
    return f"file://{p}"


def test_exists_and_status(spark, tmp_path):
    fs = WarehouseFS(spark)
    f = tmp_path / "a.bin"
    f.write_bytes(b"x" * 123)
    assert fs.exists(_uri(f))
    assert not fs.exists(_uri(tmp_path / "missing"))
    mtime_ms, length = fs.status(_uri(f))
    assert length == 123 and mtime_ms > 0
    assert fs.status(_uri(tmp_path / "missing")) is None


def test_child_summary_counts_direct_children(spark, tmp_path):
    fs = WarehouseFS(spark)
    d = tmp_path / "d"
    d.mkdir()
    (d / "one").write_bytes(b"abc")
    (d / "two").write_bytes(b"defgh")
    sub = d / "sub"
    sub.mkdir()
    (sub / "deep").write_bytes(b"zzzzzzzzz")  # not counted in total
    n, total = fs.child_summary(_uri(d))
    assert n == 3  # two files + the subdir entry
    assert total == 8  # direct files only; dirs report length 0


def test_rename_replaces_existing_tree(spark, tmp_path):
    """os.replace semantics over Hadoop: dst is swapped out, the old
    tree does not survive, no merge-into-dst behavior."""
    fs = WarehouseFS(spark)
    src = tmp_path / "src"
    dst = tmp_path / "dst"
    src.mkdir()
    (src / "new").write_text("new-data")
    dst.mkdir()
    (dst / "old").write_text("old-data")
    fs.rename(_uri(src), _uri(dst))
    assert not src.exists()
    assert (dst / "new").read_text() == "new-data"
    assert not (dst / "old").exists()  # replaced, not merged
    assert not (tmp_path / "dst.__old").exists()  # trash cleaned up


def test_rename_creates_missing_parent(spark, tmp_path):
    fs = WarehouseFS(spark)
    src = tmp_path / "src2"
    src.mkdir()
    (src / "f").write_text("x")
    dst = tmp_path / "deep" / "nested" / "dst"
    fs.rename(_uri(src), _uri(dst))
    assert (dst / "f").read_text() == "x"


def test_rmtree_and_listdir(spark, tmp_path):
    fs = WarehouseFS(spark)
    d = tmp_path / "t"
    d.mkdir()
    (d / "b").write_text("1")
    (d / "a").write_text("2")
    assert fs.listdir(_uri(d)) == ["a", "b"]
    fs.rmtree(_uri(d))
    assert not d.exists()
    assert fs.listdir(_uri(d)) == []  # absent dir lists empty, no raise
    fs.rmtree(_uri(d))  # idempotent


def test_read_bytes_local_and_jvm_paths_agree(spark, tmp_path):
    """read_bytes has two implementations: the local-FS shortcut
    (plain open) and the portable Hadoop stream path (used for
    HDFS/S3). Both must return identical bytes; the JVM path is forced
    by disabling the local resolution."""
    fs = WarehouseFS(spark)
    p = tmp_path / "blob.bin"
    payload = bytes(range(256)) * 17
    p.write_bytes(payload)
    assert fs._local_path(str(p)) is not None  # shortcut engages
    assert fs.read_bytes(str(p)) == payload
    assert fs.read_bytes(_uri(p)) == payload  # file:// form too
    # force the Hadoop stream path
    fs._default_local = False
    assert fs._local_path(str(p)) is None
    assert fs.read_bytes(str(p)) == payload


def test_uri_forms_hadoop_accepts(spark, tmp_path):
    """Hadoop accepts file:/p (single slash) and file:///p as the same
    local path; file://host/p names a REMOTE authority. _local_path must
    agree or the fetch fast path silently sees an empty directory where
    data exists (ADVICE r7)."""
    fs = WarehouseFS(spark)
    d = tmp_path / "u"
    d.mkdir()
    (d / "x.parquet").write_bytes(b"pq")
    # single-slash URI — Hadoop-equivalent to file:///...
    assert fs._local_path(f"file:{d}") == str(d)
    assert fs.listdir(f"file:{d}") == ["x.parquet"]
    assert fs.read_bytes(f"file:{d}/x.parquet") == b"pq"
    # triple-slash and localhost-authority forms
    assert fs._local_path(f"file://{d}") == str(d)
    assert fs._local_path(f"file://localhost{d}") == str(d)
    # remote authority is NOT local
    assert fs._local_path("file://otherhost/data") is None
    # non-file scheme with single slash is not local either
    assert fs._local_path("hdfs:/data/wh") is None
    # colon later in the path does not mean a scheme
    colon_dir = tmp_path / "odd:name"
    colon_dir.mkdir()
    (colon_dir / "y").write_text("1")
    assert fs._local_path(str(colon_dir)) == str(colon_dir)
    assert fs.listdir(str(colon_dir)) == ["y"]


def test_list_date_files_local_and_glob_paths_agree(spark, tmp_path):
    """The fetch short-circuit's batched listing: the local scandir path
    and the Hadoop globStatus path must return the same files (modulo
    path form), skipping absent dates and non-parquet names."""
    base = tmp_path / "pts" / "tier=0" / "metric=m"
    for d, names in {
        "2026-01-01": ["a.parquet", "b.parquet", "_SUCCESS"],
        "2026-01-03": ["c.parquet"],
    }.items():
        (base / f"date={d}").mkdir(parents=True)
        for n in names:
            (base / f"date={d}" / n).write_bytes(b"x")
    fs = WarehouseFS(spark)
    dates = ["2026-01-01", "2026-01-02", "2026-01-03"]
    local = fs.list_date_files(str(base), dates)
    assert [p.rsplit("/", 2)[-2:] for p in local] == [
        ["date=2026-01-01", "a.parquet"],
        ["date=2026-01-01", "b.parquet"],
        ["date=2026-01-03", "c.parquet"],
    ]
    # force the globStatus path; same files come back
    fs._default_local = False
    remote = fs.list_date_files(str(base), dates)
    assert [p.rsplit("/", 2)[-2:] for p in remote] == [
        p.rsplit("/", 2)[-2:] for p in local
    ]
    # single-date window (degenerate alternation) on both paths
    fs._default_local = True
    assert len(fs.list_date_files(str(base), ["2026-01-03"])) == 1
    fs._default_local = False
    assert len(fs.list_date_files(str(base), ["2026-01-03"])) == 1


def test_list_date_files_skips_hidden_files(spark, tmp_path):
    """Spark's file index skips names starting with ``_`` or ``.``; the
    driver-side listing must too, on both the local and glob paths."""
    d = tmp_path / "pts" / "tier=0" / "metric=m" / "date=2026-01-01"
    d.mkdir(parents=True)
    for n in ("a.parquet", "_b.parquet", ".c.parquet", ".a.parquet.crc"):
        (d / n).write_bytes(b"x")
    fs = WarehouseFS(spark)
    base = str(tmp_path / "pts" / "tier=0" / "metric=m")
    for local in (True, False):
        fs._default_local = local
        names = [p.rsplit("/", 1)[-1] for p in fs.list_date_files(base, ["2026-01-01"])]
        assert names == ["a.parquet"], (local, names)


def test_swap_file_replaces_old_files(spark, tmp_path):
    """swap_file leaves exactly the new file (no staged or checksum
    leftovers) in either publish order, locally and through Hadoop."""
    fs = WarehouseFS(spark)
    for i, (form, publish_first) in enumerate(
        [(str, True), (str, False), (_uri, True), (_uri, False)]
    ):
        d = tmp_path / f"d{i}"
        d.mkdir()
        for n in ("old1.parquet", "old2.parquet", ".old1.parquet.crc"):
            (d / n).write_bytes(b"old")
        fs.swap_file(
            b"new",
            form(d / "new.parquet"),
            [form(d / "old1.parquet"), form(d / "old2.parquet")],
            publish_first,
        )
        left = sorted(p.name for p in d.iterdir() if not p.name.endswith(".crc"))
        assert left == ["new.parquet"], (i, sorted(p.name for p in d.iterdir()))
        assert (d / "new.parquet").read_bytes() == b"new"


def test_uri_warehouse_shares_control_plane(spark, tmp_path):
    """A warehouse opened as file:/wh, file:///wh and /wh is ONE
    warehouse: the driver-local control plane (catalog/seq/layout JSON)
    must land at the OS path, not a literal 'file:' directory, so all
    three spellings see the same metrics and data."""
    import os

    from hoard_spark.engine import HoardEngine
    from hoard_spark.fsutil import strip_local_uri

    wh = str(tmp_path / "wh_uri")
    assert strip_local_uri(f"file:{wh}") == wh
    assert strip_local_uri(f"file://{wh}") == wh
    assert strip_local_uri("s3a://bucket/wh") is None
    eng = HoardEngine(spark, f"file:{wh}")
    eng.create("m", [(3600, 48)])
    eng.update_many("m", [(1311278000, 7.25)], now=1311300000)
    assert os.path.exists(os.path.join(wh, "_hoard_catalog.json"))
    for root in (f"file://{wh}", wh):
        other = HoardEngine(spark, root)
        ti, v = other.fetch("m", 1311274000, 1311281000, now=1311300000)
        assert 7.25 in v, (root, v)


def test_absent_root_reads_empty_without_spark_analysis(spark, tmp_path, monkeypatch):
    """An absent root is probed for, not read: Spark never analyses the
    path (nor logs a FileNotFoundException for it). A written root is
    read through ``spark.read``."""
    from pyspark.sql import SparkSession

    from hoard_spark.fsutil import read_parquet_or_empty

    reads = []
    real_read = SparkSession.read

    def spy(self):
        reads.append(1)
        return real_read.fget(self)

    monkeypatch.setattr(SparkSession, "read", property(spy))
    schema = "k long, v string"
    absent = read_parquet_or_empty(spark, str(tmp_path / "absent"), schema)
    assert reads == []
    assert absent.schema.simpleString() == "struct<k:bigint,v:string>"
    assert absent.collect() == []

    spark.createDataFrame([(1, "a")], schema).write.parquet(str(tmp_path / "root"))
    assert read_parquet_or_empty(spark, str(tmp_path / "root"), schema).collect() == [
        (1, "a")
    ]
    assert reads == [1]
