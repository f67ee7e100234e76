"""Hadoop-FileSystem I/O for small persisted state artifacts.

Markers, fingerprints, directory listings and partition deletes go
through the same ``org.apache.hadoop.fs.FileSystem`` API Spark's own
committers use, so whatever filesystem the session can read parquet
from (``file://``, ``hdfs://``, ``s3a://``, ...) these helpers work on
too; a bare local path resolves to ``RawLocalFileSystem``.  Driver-local
primitives (``open()``, ``os.listdir``, ``shutil.rmtree``) silently
break the moment a state directory is not a local path.

No engine module calls these helpers at present; they are kept as a
tested primitive for state kept beside the transaction store.

Scope note: these helpers go through the JVM gateway
(``spark.sparkContext._jvm``), which exists in classic local/cluster
PySpark -- the only deployment mode this engine targets -- but not
under Spark Connect.

Atomicity contract: :func:`create_marker` is the commit primitive --
``FileSystem.createNewFile`` is an atomic create-if-absent on HDFS and
local filesystems (object stores without atomic create degrade to
"PUT visible-or-not", which still never exposes a torn marker).
:func:`write_text` is NOT atomic and must only carry values that are
written once and never rewritten in place; anything that switches
state versions uses marker files, never in-place rewrites.
"""

from __future__ import annotations


def _fs(spark, path: str):
    """(FileSystem, Path, jvm) for ``path`` under the session's Hadoop
    configuration -- the scheme picks the filesystem (file://, hdfs://,
    s3a://, ...); a bare local path resolves to the local FS."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def exists(spark, path: str) -> bool:
    fs, p, _ = _fs(spark, path)
    return fs.exists(p)


def read_text(spark, path: str) -> str:
    """Full contents of a small text file (markers, fingerprints)."""
    fs, p, jvm = _fs(spark, path)
    stream = fs.open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def write_text(spark, path: str, text: str) -> None:
    """Write a small text file, overwriting.  NOT atomic -- see the
    module docstring; use :func:`create_marker` for commit points."""
    fs, p, _ = _fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text, "utf-8"))
    finally:
        out.close()


def create_marker(spark, path: str) -> None:
    """Atomic create-if-absent empty file -- the commit primitive for
    versioned state (a reader either sees the marker or does not;
    never a torn state)."""
    fs, p, _ = _fs(spark, path)
    fs.createNewFile(p)


def list_names(spark, path: str) -> list[str]:
    """Child entry names of ``path`` ([] when it does not exist)."""
    fs, p, _ = _fs(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def delete(spark, path: str) -> None:
    """Recursive delete (no-op when absent)."""
    fs, p, _ = _fs(spark, path)
    fs.delete(p, True)
