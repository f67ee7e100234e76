"""Hadoop-FileSystem calls for the serving table's generation commit.

Listing, rename and delete go through the same
``org.apache.hadoop.fs.FileSystem`` API Spark's own committers use, so
whatever filesystem the session can read parquet from (``file://``,
``hdfs://``, ``s3a://``, ...) these helpers work on too; a bare local
path resolves to the local filesystem.  Driver-local primitives
(``os.listdir``, ``os.rename``, ``shutil.rmtree``) silently break the
moment the table is not a local path.

Scope note: these helpers go through the JVM gateway
(``spark.sparkContext._jvm``), which exists in classic local/cluster
PySpark -- the only deployment mode this engine targets -- but not
under Spark Connect.

Atomicity: :func:`rename` is the commit primitive.  A directory rename
is atomic on HDFS and on a local filesystem, so a reader sees the whole
directory under its new name or none of it.  Object stores without an
atomic rename (S3) copy file by file and give no such guarantee.
"""

from __future__ import annotations


def _fs(spark, path: str):
    """(FileSystem, Path) for ``path`` under the session's Hadoop
    configuration -- the scheme picks the filesystem (file://, hdfs://,
    s3a://, ...); a bare local path resolves to the local FS."""
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, jpath


def list_names(spark, path: str) -> list[str]:
    """Child entry names of ``path`` ([] when it does not exist)."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def rename(spark, src: str, dst: str) -> None:
    """Move ``src`` to ``dst``; raises ``FileExistsError`` when ``dst``
    exists (Hadoop would move ``src`` *into* an existing directory) and
    ``OSError`` when the filesystem refuses the rename."""
    fs, s = _fs(spark, src)
    _, d = _fs(spark, dst)
    if fs.exists(d):
        raise FileExistsError(dst)
    if not fs.rename(s, d):
        raise OSError(f"rename {src} -> {dst} failed")


def delete(spark, path: str) -> None:
    """Recursive delete (no-op when absent)."""
    fs, p = _fs(spark, path)
    fs.delete(p, True)
