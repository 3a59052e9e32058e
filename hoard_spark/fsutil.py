"""Filesystem operations through the Hadoop FileSystem API.

The engine's maintenance jobs (compact swap, retention drop) and existence
probes must work wherever the warehouse lives — local disk in tests,
HDFS/S3/GCS in a 100 TB deployment. Driver-side ``os.path``/``shutil``
calls only work on the first of those, so every data-path operation goes
through the JVM's ``org.apache.hadoop.fs.FileSystem``, resolved per-path
(file:// URIs hit the local FS with identical semantics).

Catalog/seq/layout JSON live next to the driver by design (they are the
single-writer control plane and become a metastore table in production —
see hoard_spark/catalog.py); only the data plane goes through Hadoop.
"""

from __future__ import annotations

import os
import re
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession


def strip_local_uri(p: str) -> str | None:
    """OS path for a string that names the LOCAL filesystem, else None.

    Accepts Hadoop's local URI forms (file:/p, file:///p,
    file://localhost/p) and plain paths; returns None for any other
    scheme or a file: URI with a remote authority. Used by the driver's
    control plane (catalog/seq/layout JSON, plain ``open()``) so that a
    warehouse opened as ``file:/tmp/wh`` and as ``/tmp/wh`` shares ONE
    control plane instead of a literal ``file:`` directory."""
    head = p.split("/", 1)[0]
    if ":" in head:  # has a URI scheme
        if not head.startswith("file:"):
            return None
        parts = urlsplit(p)
        if parts.netloc not in ("", "localhost"):
            return None
        return parts.path or "/"
    return p


def is_data_file(name: str, ext: str = ".parquet") -> bool:
    """True for a data file a Spark scan would read: Spark's file index
    skips names starting with ``_`` or ``.`` (``_SUCCESS``, checksum
    files, staged writes), so every driver-side listing must too."""
    return name.endswith(ext) and not name.startswith(("_", "."))


def read_parquet_or_empty(spark: SparkSession, path: str, schema) -> DataFrame:
    """Read a parquet root with ``schema`` (a StructType or DDL string),
    treating ONLY an absent root as empty.

    A not-yet-written root is a normal state (a fresh warehouse or store):
    it is probed for first, so Spark never analyses (and logs a
    ``FileNotFoundException`` for) a path that is not there. A root that
    vanishes between the probe and the read still reads as empty; any
    other analysis failure — corrupted footers, a conflicting schema —
    must raise, not silently read as "no data"."""
    from pyspark.errors import AnalysisException

    if WarehouseFS(spark).isdir(path):
        try:
            return spark.read.schema(schema).parquet(path)
        except AnalysisException as e:
            if "PATH_NOT_FOUND" not in str(getattr(e, "errorClass", "") or str(e)):
                raise
    return spark.createDataFrame([], schema)


# partition-dir values Spark writes verbatim (no escaping); the driver-side
# routes build ``metric=M`` paths only for these
SAFE_PART_RE = re.compile(r"[A-Za-z0-9._-]+\Z")


class WarehouseFS:
    """Thin wrapper over Hadoop FileSystem for one warehouse."""

    def __init__(self, spark: SparkSession):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._default_local = str(
            self._conf.get("fs.defaultFS", "file:///")
        ).startswith("file:")

    def _local_path(self, p: str) -> str | None:
        """OS path when ``p`` resolves to the local filesystem, else None.

        Latency-sensitive callers (the driver-side fetch short-circuit)
        use this to bypass the ~5-10 ms/py4j-call JVM round-trips: a
        file: URI (any Hadoop-accepted slash count: file:/p, file:///p)
        or scheme-less-on-local-defaultFS path reads straight through
        Python I/O with identical bytes. Remote schemes, and file: URIs
        with a non-local authority (file://host/p), always take the
        Hadoop stream path."""
        if ":" in p.split("/", 1)[0]:  # has a URI scheme
            return strip_local_uri(p)  # file: forms only; else None
        return p if self._default_local else None

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, p: str):
        return self._path(p).getFileSystem(self._conf)

    def exists(self, p: str) -> bool:
        return self._fs(p).exists(self._path(p))

    def status(self, p: str) -> tuple[int, int] | None:
        """(modification_time_ms, length) for a path, or None if absent.

        For directories Hadoop reports length 0 and a mtime that moves on
        child create/delete — callers that fingerprint a directory-style
        parquet table should combine this with ``child_summary``.
        """
        fs = self._fs(p)
        hp = self._path(p)
        if not fs.exists(hp):
            return None
        st = fs.getFileStatus(hp)
        return int(st.getModificationTime()), int(st.getLen())

    def child_summary(self, p: str) -> tuple[int, int]:
        """(child_count, total_file_length) over the direct children of
        a directory — one listStatus RPC, no recursion. Gives the
        fingerprint a content signal where a bare dir stat has none.
        Directory children count toward child_count but not the length
        (local FS reports a filesystem-dependent dir size, e.g. 4096)."""
        fs = self._fs(p)
        hp = self._path(p)
        total = n = 0
        for st in fs.listStatus(hp):
            n += 1
            if st.isFile():
                total += int(st.getLen())
        return n, total

    def isdir(self, p: str) -> bool:
        fs = self._fs(p)
        hp = self._path(p)
        return fs.exists(hp) and fs.getFileStatus(hp).isDirectory()

    def listdir(self, p: str) -> list[str]:
        lp = self._local_path(p)
        if lp is not None:
            try:
                return sorted(os.listdir(lp))
            except (FileNotFoundError, NotADirectoryError):
                if ":" in p:
                    # URI whose local resolution missed — let Hadoop's own
                    # parser decide (covers exotic URI forms rather than
                    # silently reporting an existing dir as empty)
                    pass
                else:
                    return []
        fs = self._fs(p)
        hp = self._path(p)
        if not fs.exists(hp):
            return []
        return sorted(
            st.getPath().getName() for st in fs.listStatus(hp)
        )

    def list_date_files(
        self, base: str, dates: list[str], ext: str = ".parquet"
    ) -> list[str]:
        """All ``base/date=D/*ext`` data files for the given dates, hidden
        names skipped as Spark skips them (``is_data_file``).

        On remote stores this is ONE listing round-trip — a
        ``globStatus`` with a date alternation — instead of one RPC per
        date dir (the fetch short-circuit's serial-listing tax, VERDICT
        r7 item 10). Locally it is a scandir per present date: syscalls,
        not RPCs, so fan-out is free. Missing date dirs are skipped.
        """
        lp = self._local_path(base)
        if lp is not None:
            out: list[str] = []
            for d in dates:
                try:
                    names = os.listdir(os.path.join(lp, f"date={d}"))
                except (FileNotFoundError, NotADirectoryError):
                    continue
                out.extend(
                    f"{base}/date={d}/{n}"
                    for n in sorted(names)
                    if is_data_file(n, ext)
                )
            return out
        pat = base.rstrip("/") + "/date={" + ",".join(dates) + "}/*" + ext
        sts = self._fs(base).globStatus(self._path(pat))
        return sorted(
            str(st.getPath())
            for st in (sts or [])
            if is_data_file(st.getPath().getName(), ext)
        )

    def read_bytes(self, p: str) -> bytes:
        """Whole-file read through the Hadoop stream API (works on
        file://, HDFS, S3). Intended for SMALL files — the driver-side
        fetch short-circuit reads a handful of KB-sized partition files;
        anything bigger belongs in a Spark scan."""
        lp = self._local_path(p)
        if lp is not None:
            try:
                with open(lp, "rb") as f:
                    return f.read()
            except FileNotFoundError:
                if ":" not in p:
                    raise
                # URI form the local shortcut mis-resolved — Hadoop path
        fs = self._fs(p)
        stream = fs.open(self._path(p))
        try:
            data = self._jvm.org.apache.commons.io.IOUtils.toByteArray(
                stream
            )
        finally:
            stream.close()
        return bytes(data)

    def write_bytes(self, p: str, data: bytes) -> None:
        """Whole-file write through the Hadoop stream API (file://, HDFS,
        S3). SMALL control-plane files only (model sidecars, markers) —
        data belongs in Spark writes. Overwrites; creates parent dirs."""
        lp = self._local_path(p)
        if lp is not None:
            os.makedirs(os.path.dirname(lp) or ".", exist_ok=True)
            with open(lp, "wb") as f:
                f.write(data)
            return
        fs = self._fs(p)
        stream = fs.create(self._path(p), True)
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()

    def swap_file(
        self, data: bytes, dst: str, old: list[str], publish_first: bool
    ) -> None:
        """Replace the files ``old`` of one directory with ONE new file
        ``dst`` holding ``data``.

        The bytes are first staged under a hidden sibling name, which
        Spark scans and ``list_date_files`` skip, so no reader sees a
        partial file. ``publish_first`` renames the staged file into
        place before deleting ``old``: a crash in between leaves both,
        which suits a table whose readers collapse duplicates (LWW
        points). Otherwise ``old`` goes first — the order of Spark's
        dynamic partition overwrite, where a crash leaves the partition
        missing (rebuildable), never doubled. Local paths take plain
        Python I/O; anything else goes through Hadoop."""
        parent, name = dst.rsplit("/", 1)
        staged = f"{parent}/.{name}.staged"
        lp, lstaged = self._local_path(dst), self._local_path(staged)
        if lp is not None:
            os.makedirs(os.path.dirname(lp), exist_ok=True)
            with open(lstaged, "wb") as f:
                f.write(data)
        else:
            self.write_bytes(staged, data)

        def publish() -> None:
            if lp is not None:
                os.rename(lstaged, lp)
            elif not self._fs(dst).rename(self._path(staged), self._path(dst)):
                raise IOError(f"rename failed: {staged} -> {dst}")

        if publish_first:
            publish()
        self.delete_files(old)
        if not publish_first:
            publish()

    def delete_files(self, paths: list[str]) -> None:
        """Delete files (a missing one is not an error). Locally the
        Hadoop checksum sibling ``.<name>.crc`` goes too, as Hadoop's own
        delete would take it."""
        for p in paths:
            lp = self._local_path(p)
            if lp is None:
                self._fs(p).delete(self._path(p), False)
                continue
            d, name = os.path.split(lp)
            for victim in (lp, os.path.join(d, f".{name}.crc")):
                try:
                    os.remove(victim)
                except FileNotFoundError:
                    pass

    def rmtree(self, p: str) -> None:
        fs = self._fs(p)
        hp = self._path(p)
        if fs.exists(hp):
            fs.delete(hp, True)

    def rename(self, src: str, dst: str) -> None:
        """Move src to dst, replacing dst (os.replace semantics).

        Hadoop rename won't replace a non-empty dst, so replacement is
        rename(dst -> dst.__old), rename(src -> dst), delete(dst.__old):
        a crash at any point leaves the data recoverable (either dst or
        dst.__old holds the previous tree, src holds the new one) — unlike
        delete-then-rename, which has a window with NO live copy. Not
        atomic as a whole; on S3A each rename is additionally an O(data)
        server-side copy, so prefer partition-scoped swaps (compact(metric))
        over whole-root swaps there.
        """
        fs = self._fs(dst)
        dstp = self._path(dst)
        trash = None
        if fs.exists(dstp):
            trash = self._path(dst + ".__old")
            if fs.exists(trash):
                fs.delete(trash, True)
            if not fs.rename(dstp, trash):
                raise IOError(f"rename failed: {dst} -> {dst}.__old")
        parent = dstp.getParent()
        if parent is not None and not fs.exists(parent):
            fs.mkdirs(parent)
        if not fs.rename(self._path(src), dstp):
            # put the old tree back so the warehouse stays readable
            if trash is not None:
                fs.rename(trash, dstp)
            raise IOError(f"rename failed: {src} -> {dst}")
        if trash is not None:
            fs.delete(trash, True)
