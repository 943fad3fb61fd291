"""Filesystem probes via the JVM Hadoop FileSystem API.

``os.path`` probes silently see nothing when a path is an object-store
or HDFS URI (ADVICE r2) — everything here resolves the FileSystem for
the path's scheme, so local paths, ``hdfs://`` and ``s3a://`` behave
identically. Driver-side only; never called per-row.
"""

from __future__ import annotations

import weakref

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

#: JVM view -> Hadoop ``Path`` class: resolving the class name costs one
#: py4j round trip per package segment, so it is looked up once per JVM
_PATH_CLASS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path``."""
    jvm = spark._jvm
    path_cls = _PATH_CLASS.get(jvm)
    if path_cls is None:
        path_cls = _PATH_CLASS[jvm] = jvm.org.apache.hadoop.fs.Path
    jpath = path_cls(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def fs_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _hadoop_fs(spark, path)
    return bool(fs.exists(p))


def fs_mkdirs(spark: SparkSession, path: str) -> None:
    fs, p = _hadoop_fs(spark, path)
    fs.mkdirs(p)


def fs_touch(spark: SparkSession, path: str) -> None:
    fs, p = _hadoop_fs(spark, path)
    fs.create(p, True).close()


def fs_bytes(spark: SparkSession, path: str, suffix: str = ".parquet") -> int:
    """Total bytes of files under ``path`` whose name ends in
    ``suffix`` (recursive). One listing RPC stream, no data read."""
    fs, p = _hadoop_fs(spark, path)
    if not fs.exists(p):
        return 0
    it = fs.listFiles(p, True)
    total = 0
    while it.hasNext():
        status = it.next()
        if status.getPath().getName().endswith(suffix):
            total += int(status.getLen())
    return total


def fs_file_version(spark: SparkSession, path: str) -> tuple[int, int] | None:
    """(length in bytes, modification time in ms) of the file at
    ``path``; None when ``path`` is a directory or cannot be stat'ed
    (missing, a glob), so that the caller's own read reports it."""
    fs, p = _hadoop_fs(spark, path)
    try:
        status = fs.getFileStatus(p)
    except Py4JJavaError:
        return None
    if status.isDirectory():
        return None
    return int(status.getLen()), int(status.getModificationTime())
