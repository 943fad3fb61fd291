"""Filesystem probes via the JVM Hadoop FileSystem API.

``os.path`` probes silently see nothing when a path is an object-store
or HDFS URI (ADVICE r2) — everything here resolves the FileSystem for
the path's scheme, so local paths, ``hdfs://`` and ``s3a://`` behave
identically. Driver-side only; never called per-row.

``start_stream`` starts every streaming query in the package and picks
its checkpoint file manager from the checkpoint's scheme.
"""

from __future__ import annotations

import threading
import weakref
from urllib.parse import urlparse

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


#: SQL conf naming the class behind every streaming checkpoint file:
#: offset log, commit log, file-sink metadata log and state store
CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
#: Spark's manager over the Hadoop FileSystem API. On a local disk it
#: creates files with no explicit permission and renames with
#: ``File.renameTo``; the default FileContext manager forks ``chmod`` on
#: every create and mkdir and ``readlink`` on every rename when no
#: native Hadoop library is loaded
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
#: one query start at a time sets and restores the session's class
_START_LOCK = threading.Lock()


def checkpoint_manager_class(
    checkpoint: str | None,
    path: str | None = None,
    default_fs: str = "file:///",
    user_class: str | None = None,
) -> str | None:
    """The checkpoint manager class to start a streaming query with, or
    None to leave the session as it is (Spark's default manager, or the
    ``user_class`` the session set itself).

    :data:`FS_CHECKPOINT_MANAGER` is picked only when the session set
    no class and both the checkpoint and the file sink ``path`` (when
    given) resolve to the local ``file`` scheme: there rename(2) is
    atomic and replaces its target. ``FileSystem.rename`` on HDFS does
    not replace an existing file, so every other scheme keeps Spark's
    default. A scheme-less location, and ``checkpoint=None`` (Spark's
    temporary checkpoint directory), resolve against ``default_fs``."""
    if user_class:
        return None
    default_scheme = urlparse(default_fs).scheme or "file"
    locations = [checkpoint or ""] + ([path] if path is not None else [])
    if any((urlparse(loc).scheme or default_scheme).lower() != "file" for loc in locations):
        return None
    return FS_CHECKPOINT_MANAGER


def start_stream(spark: SparkSession, writer, checkpoint: str | None, path: str | None = None):
    """``writer.start(path)`` with ``checkpoint`` as the checkpoint
    location (None leaves it to Spark: the session's
    ``spark.sql.streaming.checkpointLocation`` root, else a temporary
    directory). Every streaming query in the package starts here.

    When :func:`checkpoint_manager_class` picks a class, it is set on
    the session for the ``start()`` call only and then unset. The query
    clones the session as it starts, so its offset log, commit log,
    file-sink metadata log and state store keep the class. File
    checksums (``spark.sql.streaming.checkpoint.fileChecksum.enabled``)
    still wrap it."""
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    with _START_LOCK:
        manager = checkpoint_manager_class(
            checkpoint or spark.conf.get("spark.sql.streaming.checkpointLocation", None),
            path,
            default_fs=spark.conf.get("fs.defaultFS", None)
            or spark._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///"),
            user_class=spark.conf.get(CHECKPOINT_MANAGER_CONF, None),
        )
        if manager is None:
            return writer.start(path)
        spark.conf.set(CHECKPOINT_MANAGER_CONF, manager)
        try:
            return writer.start(path)
        finally:
            spark.conf.unset(CHECKPOINT_MANAGER_CONF)
