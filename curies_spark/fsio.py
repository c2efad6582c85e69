"""Hadoop FileSystem helpers: the one way any job reads, writes, lists
or deletes its markers, manifests and partition directories.

They reach Hadoop's FileSystem API through the session's JVM gateway
(``spark._jvm``), so ONE code path drives ``/local/path``, ``file://``,
``hdfs://``, ``s3a://``, … — Hadoop resolves the implementation from
the path's scheme. ``pathlib`` cannot: ``Path("hdfs://nn/kg")`` is
``hdfs:/nn/kg``, and ``Path("file:///tmp/kg")`` is relative to the
working directory while Spark writes to ``/tmp/kg``.

Writes are atomic: a sibling ``.tmp`` file (matched by no reader's
glob) replaces the target via ``FileContext.rename(..., OVERWRITE)``,
which raises on failure — ``FileSystem.rename`` onto an existing target
returns ``False`` WITHOUT raising, even locally. A crash leaves the old
artifact or none, never a torn one.

Directory strings handed back to callers are always built by joining
the caller's own root string with the child name, never from Hadoop's
(re-qualified) URIs — so whatever scheme/authority the caller used is
preserved verbatim in every read/write/compare downstream.
"""

from __future__ import annotations

import json

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

__all__ = [
    "fs_delete",
    "fs_exists",
    "fs_glob",
    "fs_read_json",
    "fs_write_json",
    "partition_ids",
]


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def fs_glob(spark: SparkSession, root: str, pattern: str) -> "list[str]":
    """Sorted ``root``-relative names matching the glob ``pattern``
    (e.g. ``shard-*.json`` or ``batch=*/_SUCCESS``); empty when
    ``root`` does not exist."""
    fs, jp = _fs_and_path(spark, f"{root}/{pattern}")
    depth = pattern.count("/") + 1
    return sorted(
        "/".join(st.getPath().toString().split("/")[-depth:])
        for st in fs.globStatus(jp) or []
    )


def partition_ids(
    spark: SparkSession, root: str, prefix: str, *, committed: bool = True
) -> "list[int]":
    """Numeric ids N of the ``{root}/{prefix}=N`` child directories.

    ``committed=True`` (the read side) lists only directories holding a
    ``_SUCCESS`` marker — a dir a crashed write left half-filled is
    invisible to readers. ``committed=False`` (the compaction delete
    side) lists every matching dir, so stale uncommitted leftovers are
    cleaned up too."""
    pattern = f"{prefix}=*/_SUCCESS" if committed else f"{prefix}=*"
    return sorted(
        int(name.split("/", 1)[0].split("=", 1)[1])
        for name in fs_glob(spark, root, pattern)
    )


def fs_exists(spark: SparkSession, path: str) -> bool:
    fs, jp = _fs_and_path(spark, path)
    return bool(fs.exists(jp))


def fs_read_json(spark: SparkSession, path: str) -> "object | None":
    """Parsed contents of a small JSON artifact, or None when the path
    does not exist. An undecodable file raises a ``RuntimeError`` naming
    it — never a raw ``JSONDecodeError``."""
    fs, jp = _fs_and_path(spark, path)
    if not fs.exists(jp):
        return None
    jvm = spark._jvm
    out = jvm.java.io.ByteArrayOutputStream()
    stream = fs.open(jp)
    try:
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, out, 65536, False)
        return json.loads(bytes(out.toByteArray()).decode("utf-8"))
    except (ValueError, Py4JJavaError) as e:  # ValueError: JSON or UTF-8
        # a checksummed FS (the local one) detects a torn file on read
        if isinstance(e, Py4JJavaError) and "ChecksumException" not in str(e):
            raise
        raise RuntimeError(
            f"job artifact {path!r} is torn or not JSON; rebuild the output "
            "(resume=False), or run with a fresh out_dir."
        ) from None
    finally:
        stream.close()


def _rename(spark: SparkSession, src: str, dst: str) -> None:
    """Replace ``dst`` with ``src``; raises on failure."""
    fs_pkg = spark._jvm.org.apache.hadoop.fs
    rename_opt = getattr(fs_pkg, "Options$Rename")
    opts = spark.sparkContext._gateway.new_array(rename_opt, 1)
    opts[0] = rename_opt.OVERWRITE
    jdst = fs_pkg.Path(dst)
    fc = fs_pkg.FileContext.getFileContext(jdst.toUri(), spark._jsc.hadoopConfiguration())
    fc.rename(fs_pkg.Path(src), jdst, opts)


def fs_write_json(spark: SparkSession, path: str, obj) -> None:
    """Atomically write (replace) a small JSON artifact: a sibling
    ``{path}.tmp`` is written in full, then renamed over ``path``."""
    tmp = f"{path}.tmp"
    fs, jtmp = _fs_and_path(spark, tmp)
    stream = fs.create(jtmp, True)
    try:
        stream.write(bytearray(json.dumps(obj, sort_keys=True).encode("utf-8")))
    finally:
        stream.close()
    _rename(spark, tmp, path)


def fs_delete(spark: SparkSession, path: str) -> None:
    """Recursive delete; absent paths are a no-op. Raises when the path
    survives the delete."""
    fs, jp = _fs_and_path(spark, path)
    if not fs.delete(jp, True) and fs.exists(jp):
        raise RuntimeError(f"could not delete {path!r}")
