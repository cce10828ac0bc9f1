"""Storage-agnostic directory listing and small-file IO for the streaming
sinks' sidecar state (batch directories, Bloom bitmaps, metric logs).

The ingest sinks keep log-structured state as ``batch=N`` / ``delta=N``
subdirectories plus tiny JSON sidecars. Enumerating those with
``os.listdir`` only works when the corpus lives on a driver-local
filesystem; on HDFS/S3 — where the parquet reads/writes would otherwise
work unchanged — the listing silently comes back empty and every batch
would score against an empty corpus. This module routes all of that
through the Hadoop ``FileSystem`` API (via the session's JVM gateway), so
the same code path covers ``file://``, ``hdfs://``, ``s3a://`` and any
other registered scheme. In Spark local mode the default FS is the local
filesystem, so plain paths keep behaving exactly as before.

Driver-side only (a handful of py4j calls per micro-batch — metadata
scale, never data scale).
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path_str: str):
    """(FileSystem, Path, jvm) for a path string under the session's
    Hadoop configuration."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def exists(spark: SparkSession, path_str: str) -> bool:
    fs, hpath, _ = _fs(spark, path_str)
    return bool(fs.exists(hpath))


def list_subdirs(spark: SparkSession, dir_path: str, prefix: str = "") -> list[str]:
    """Names of the immediate subdirectories of ``dir_path`` starting with
    ``prefix`` (sorted). Empty list when the directory does not exist."""
    fs, hpath, _ = _fs(spark, dir_path)
    if not fs.exists(hpath):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(hpath)
        if st.isDirectory() and st.getPath().getName().startswith(prefix)
    )


def glob_under(
    spark: SparkSession, dir_path: str, names: list[str], pattern: str
) -> list[tuple[str, str]]:
    """(child name, entry name) of every entry matching ``pattern`` (a
    Hadoop glob) inside the children ``names`` of ``dir_path`` — one
    glob call, however many children. ``dir_path`` is matched literally."""
    escaped = re.sub(r"([\\{}\[\]*?])", r"\\\1", dir_path)
    fs, hpath, _ = _fs(spark, f"{escaped}/{{{','.join(names)}}}/{pattern}")
    return [
        (st.getPath().getParent().getName(), st.getPath().getName())
        for st in fs.globStatus(hpath) or []
    ]


def read_text(spark: SparkSession, path_str: str) -> str | None:
    """Full contents of a small text file, or None if absent."""
    fs, hpath, jvm = _fs(spark, path_str)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        out = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, out, 4096, False)
        return out.toString("UTF-8")
    finally:
        stream.close()


def write_text_atomic(spark: SparkSession, path_str: str, data: str) -> None:
    """Write a small text file atomically (tmp + rename), any scheme."""
    fs, dest, jvm = _fs(spark, path_str)
    tmp = jvm.org.apache.hadoop.fs.Path(path_str + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(dest):
        fs.delete(dest, False)
    if not fs.rename(tmp, dest):
        raise IOError(f"atomic text publish rename failed: {tmp} -> {dest}")


def rename_checked(spark: SparkSession, src: str, dest: str) -> None:
    """Rename ``src`` to ``dest``, raising on failure.

    Hadoop's ``FileSystem.rename`` reports failure through its boolean
    return, not an exception; every tmp-then-publish protocol in
    ``streaming/`` depends on the publish actually landing before the
    journal that would replay it is cleared, so a silent False here
    becomes a permanently missing sidecar row. All call sites must go
    through this (or check an equivalent post-condition)."""
    fs, dest_path, jvm = _fs(spark, dest)
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(src), dest_path):
        raise IOError(f"rename failed: {src} -> {dest}")


def delete(spark: SparkSession, path_str: str, recursive: bool = True) -> bool:
    """Delete a file or directory tree; False if it did not exist."""
    fs, hpath, _ = _fs(spark, path_str)
    if not fs.exists(hpath):
        return False
    return bool(fs.delete(hpath, recursive))


__all__ = [
    "delete",
    "exists",
    "glob_under",
    "list_subdirs",
    "read_text",
    "rename_checked",
    "write_text_atomic",
]
