"""Deployment-agnostic filesystem probes and scratch staging (Hadoop FS API).

Three code paths shared one root cause: size gates and stream
staging reached for ``os.stat`` / ``os.listdir`` / ``os.symlink`` on the
*driver-local* filesystem, which is correct only when driver and executors
share a POSIX view of the fixture paths — i.e. local[*], this repo's test
target — and silently wrong the day ``sf_dir`` is an object-store URI on a
real cluster. Every helper here goes through the JVM's
``org.apache.hadoop.fs.FileSystem`` resolved FROM the path's own scheme
(``file:``, ``hdfs:``, ``s3a:``, ... — whatever the deployment's Hadoop conf
knows), so the gates and staging take any URI the cluster can read. Plain
local paths resolve to the local FS exactly as before; tests pin
``file:``-URI runs hash-identical to plain-path runs end-to-end.

The reference itself hard-codes the shared-FS assumption (worker.go:114
writes ``mr-out-*`` relative paths and assumes the test script reads them
from the same mount) — this module is exactly that assumption removed.

Scratch dirs: :func:`mkscratch` defaults to a driver-local ``tempfile``
dir (right for local mode) and honors ``SPARK_GRAFT_SCRATCH_DIR`` — which
may itself be a URI — for deployments where executors and driver need a
SHARED scratch root (complete-mode parquet sinks, multi-batch stream
staging). Callers take one through :func:`scratch`, which deletes it on
every exit path, so a query leaves nothing behind but its committed output
(the reference's worker.go:149-152 writes a temp file and renames it).
"""

from __future__ import annotations

import os
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import SparkSession


def _fs_path(spark: SparkSession, uri: str):
    """(FileSystem, Path) for a path/URI, resolved by the path's scheme."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(uri)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, p


def exists(spark: SparkSession, uri: str) -> bool:
    fs, p = _fs_path(spark, uri)
    return bool(fs.exists(p))


def is_dir(spark: SparkSession, uri: str) -> bool:
    fs, p = _fs_path(spark, uri)
    return bool(fs.getFileStatus(p).isDirectory())


def list_files(spark: SparkSession, uri: str, suffix: str = "") -> list[str]:
    """Direct children of ``uri`` whose names end with ``suffix`` — full
    URIs, name-sorted (NOT recursive; mirrors the one-level layouts the
    fixtures and sinks use)."""
    fs, p = _fs_path(spark, uri)
    out = [
        str(st.getPath())
        for st in fs.listStatus(p)
        if st.getPath().getName().endswith(suffix)
    ]
    return sorted(out)


def copy(spark: SparkSession, src_uri: str, dst_uri: str) -> None:
    """FS-to-FS file copy (Hadoop FileUtil) — works across schemes.

    Replaces ``shutil.copy`` in stream staging; like the original it stamps
    the destination's modification time at copy time, which is what the
    file-stream source orders micro-batches by.
    """
    jvm = spark._jvm
    sfs, sp = _fs_path(spark, src_uri)
    dfs, dp = _fs_path(spark, dst_uri)
    ok = jvm.org.apache.hadoop.fs.FileUtil.copy(
        sfs, sp, dfs, dp, False, spark._jsc.hadoopConfiguration()
    )
    if not ok:
        raise IOError(f"FileUtil.copy {src_uri} -> {dst_uri} returned false")


def mkdirs(spark: SparkSession, uri: str) -> None:
    fs, p = _fs_path(spark, uri)
    fs.mkdirs(p)


def delete(spark: SparkSession, uri: str) -> None:
    """Recursive delete, ignore-missing (the ``shutil.rmtree(...,
    ignore_errors=True)`` analog for any scheme)."""
    try:
        fs, p = _fs_path(spark, uri)
        fs.delete(p, True)
    except Exception:
        pass


def du_suffix_bytes(spark: SparkSession, uri: str, suffix: str) -> int:
    """Bytes in ``uri`` counting ONLY the data files: a plain file's own
    length, or the sum over direct children ending in ``suffix``.

    The size probe of every gate. A Spark sink dir also holds ``_SUCCESS``
    (and ``.crc`` siblings on the local FS), which a ContentSummary total
    counts; a gate compared against a byte threshold must see the same
    number whether the input is one fixture file or a committed sink dir
    (with ContentSummary the events complete-mode memory-vs-parquet gate
    drifted ~1%).
    """
    fs, p = _fs_path(spark, uri)
    st = fs.getFileStatus(p)
    if not st.isDirectory():
        return int(st.getLen())
    return sum(
        int(c.getLen())
        for c in fs.listStatus(p)
        if c.getPath().getName().endswith(suffix)
    )


def mkscratch(spark: SparkSession, prefix: str) -> str:
    """A fresh scratch directory usable by BOTH driver and executors.

    Default: driver-local ``tempfile.mkdtemp`` — correct for local[*],
    where everything shares one filesystem. On a multi-node cluster set
    ``SPARK_GRAFT_SCRATCH_DIR`` to a shared root (NFS/DBFS/object-store
    URI); each call creates a unique child under it via the root's own
    FileSystem, so the value may carry any scheme the deployment's Hadoop
    conf resolves.
    """
    root = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
    if not root:
        return tempfile.mkdtemp(prefix=prefix)
    scratch = root.rstrip("/") + "/" + prefix + uuid.uuid4().hex[:12]
    mkdirs(spark, scratch)
    return scratch


@contextmanager
def scratch(spark: SparkSession, prefix: str):
    """A :func:`mkscratch` dir for the ``with`` body, deleted on every exit."""
    root = mkscratch(spark, prefix)
    try:
        yield root
    finally:
        delete(spark, root)
