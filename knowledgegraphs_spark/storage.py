"""The one file-system layer for store paths.

Every store and workdir the engine keeps — the subject-bucketed triple
store, the maintained catalog + delta dirs, the resume manifest, the Turtle
``_prefixes.ttl`` sidecar — may live at any Hadoop FileSystem URI: a plain
local path, ``file://``, ``hdfs://`` or ``s3a://``. This module is the only
code that lists, moves, deletes, reads or writes files under such a path,
and it always goes through the Hadoop FileSystem Spark resolves from the
path itself, so bucket swaps, delta compaction and resume behave the same
on every scheme. (Spark's own readers and writers resolve paths the same
way; a driver-local ``os``/``shutil`` call would treat ``file:/x`` as a
relative directory named ``file:`` and miss ``hdfs://`` entirely.)
"""

from __future__ import annotations

from py4j.java_gateway import is_instance_of
from pyspark.sql import SparkSession

_CHECKSUM_FS = "org.apache.hadoop.fs.ChecksumFileSystem"


def _fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path``, the file system resolved from
    the path's scheme with the session's Hadoop configuration."""
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def partition_dirs(spark: SparkSession, path: str, column: str) -> dict[int, str]:
    """``{N: path}`` of the ``column=N`` child directories of ``path``
    (empty when ``path`` does not exist)."""
    fs, root = _fs(spark, path)
    if not fs.exists(root):
        return {}
    out = {}
    for status in fs.listStatus(root):
        child = status.getPath()
        key, sep, value = child.getName().partition("=")
        if key == column and sep and value.isdigit():
            out[int(value)] = child.toString()
    return out


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path)
    return bool(fs.exists(p))


def delete(spark: SparkSession, path: str) -> None:
    """Remove ``path`` and everything under it; absent is not an error."""
    fs, p = _fs(spark, path)
    fs.delete(p, True)


def move(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` to ``dst``. Hadoop reports a failed rename by
    returning ``False`` rather than raising; this raises ``OSError``, so a
    caller never goes on as if the data had landed."""
    fs, s = _fs(spark, src)
    if not fs.rename(s, _fs(spark, dst)[1]):
        raise OSError(f"rename {src} -> {dst} failed")


def read_text(spark: SparkSession, path: str) -> str | None:
    """The UTF-8 contents of the file at ``path``, or ``None`` when there
    is none."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return None
    jvm = spark.sparkContext._jvm
    stream = fs.open(p)
    try:
        buf = jvm.java.io.ByteArrayOutputStream()
        # copied JVM-side: one py4j call, not one per byte
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, buf, 65536, False)
        return bytes(buf.toByteArray()).decode("utf-8")
    finally:
        stream.close()


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write ``text`` (UTF-8) to ``path``, replacing any file there: the
    bytes go to a ``.tmp`` sibling first, then take the name in one
    replacing rename, so a reader sees the old file or the new one, never
    half a file and never none.

    On a checksummed (local) file system the bytes and the rename go
    through the raw file system: its rename is one ``rename(2)``, while
    the checksum layer's refuses an existing target. No ``.crc`` sidecar
    is written and a stale one is deleted first (the old file reads
    without it), so a file later edited by hand stays readable. Elsewhere
    the rename is ``FileContext.rename`` with ``OVERWRITE``: one NameNode
    operation on HDFS. (On the local file system that call deletes, then
    renames.)"""
    fs, p = _fs(spark, path)
    tmp = p.suffix(".tmp")
    checksummed = is_instance_of(spark.sparkContext._gateway, fs, _CHECKSUM_FS)
    if checksummed:
        stale_crc = fs.getChecksumFile(p)
        fs = fs.getRawFileSystem()
        fs.delete(stale_crc, False)
    stream = fs.create(tmp, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()
    if checksummed:
        if not fs.rename(tmp, p):
            raise OSError(f"rename {tmp.toString()} -> {path} failed")
    else:
        sc = spark.sparkContext
        hadoop_fs = sc._jvm.org.apache.hadoop.fs
        options = sc._gateway.new_array(hadoop_fs.Options.Rename, 1)
        options[0] = hadoop_fs.Options.Rename.OVERWRITE
        hadoop_fs.FileContext.getFileContext(p.toUri(), sc._jsc.hadoopConfiguration()).rename(
            tmp, p, options
        )
