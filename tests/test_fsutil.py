"""The size gates and stream staging must be deployment-agnostic (r9).

Three paths (ngram size gate, complete-mode scratch
dir, stream staging) used to assume driver-local POSIX fixture paths via
``os.stat`` / ``os.listdir`` / ``os.symlink``. They now route through
``fsutil`` (Hadoop FileSystem resolved from the path's own scheme). The
probative vehicle here is a ``file:``-SCHEME URI: it resolves through the
Hadoop Path/FileSystem API only — every ``os.*`` call chokes on the scheme
prefix (pinned by a negative control below) — so a query that hashes
identically under ``file:`` URIs provably never touches the driver-local
``os`` path API for fixture access. (A truly remote scheme like ``s3a:``
can't be exercised in this container; the Hadoop built-ins each hard-pin
their own scheme, so ``file:`` is the one scheme both resolvable and
non-POSIX-string here.)
"""

from __future__ import annotations

import os

import pytest

from mapreduce_simple_go_spark import fsutil

from .conftest import SF_DIR, rows_digest

SF_URI = "file:" + SF_DIR


def _digest(df):
    p = df.toPandas()
    return len(p), rows_digest(list(p.columns), p.itertuples(index=False, name=None))


def test_file_uri_defeats_os_stat():
    """Negative control: the URI form is NOT a POSIX path — os.stat raises.
    This is what makes the file:-URI parity tests below probative: any
    remaining os.* probe on sf_dir would error, not silently pass."""
    with pytest.raises(OSError):
        os.stat(os.path.join(SF_URI, "documents.parquet"))


def test_du_suffix_bytes_matches_stat_sum(spark, tmp_path):
    """du_suffix_bytes == the per-*.parquet os.stat sum, on a plain
    fixture file AND a Spark-written dir, each as a plain path and as a
    file: URI. In the dir the sum leaves out _SUCCESS and the .crc
    siblings, which would drift a size gate."""
    p = os.path.join(SF_DIR, "documents.parquet")
    want_file = os.stat(p).st_size
    assert fsutil.du_suffix_bytes(spark, p, ".parquet") == want_file
    assert fsutil.du_suffix_bytes(spark, "file:" + p, ".parquet") == want_file

    d = tmp_path / "sink"
    spark.range(1000).coalesce(2).write.parquet(str(d))
    want_dir = sum(
        os.stat(d / f).st_size for f in os.listdir(d) if f.endswith(".parquet")
    )
    assert fsutil.du_suffix_bytes(spark, str(d), ".parquet") == want_dir
    assert fsutil.du_suffix_bytes(spark, "file:" + str(d), ".parquet") == want_dir
    # and the drift du_suffix_bytes exists to remove is real on local FS
    assert sum(os.stat(d / f).st_size for f in os.listdir(d)) > want_dir


def test_is_dir_exists_list_files(spark):
    assert fsutil.is_dir(spark, SF_URI)
    assert not fsutil.is_dir(
        spark, os.path.join(SF_URI, "documents.parquet")
    ) or os.path.isdir(os.path.join(SF_DIR, "documents.parquet"))
    assert fsutil.exists(spark, SF_URI)
    assert not fsutil.exists(spark, SF_URI + "/nope_xyz")
    names = fsutil.list_files(spark, SF_URI, suffix=".parquet")
    assert any(n.endswith("documents.parquet") for n in names)
    assert all(n.endswith(".parquet") for n in names)


def test_mkscratch_honors_uri_scratch_root(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_SCRATCH_DIR may itself be a URI: mkscratch creates a
    unique child through the root's own FileSystem and delete removes it."""
    root = tmp_path / "scratch_root"
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", "file:" + str(root))
    s1 = fsutil.mkscratch(spark, "t_")
    s2 = fsutil.mkscratch(spark, "t_")
    assert s1 != s2 and s1.startswith("file:" + str(root))
    assert fsutil.exists(spark, s1)
    fsutil.delete(spark, s1)
    assert not fsutil.exists(spark, s1)
    fsutil.delete(spark, s2)


def test_copy_across_uris(spark, tmp_path):
    src = tmp_path / "a.bin"
    src.write_bytes(b"hello fs")
    dst = "file:" + str(tmp_path / "b.bin")
    fsutil.copy(spark, "file:" + str(src), dst)
    assert (tmp_path / "b.bin").read_bytes() == b"hello fs"


def test_ngram_size_gate_probe_is_uri_capable(spark):
    """The join-strategy gate's size probe must return the same number for
    the plain path and the file: URI (r8 it was an os.stat on the driver
    mount), so the gate picks the same plan on any deployment."""
    from mapreduce_simple_go_spark.operators.dedup import _docs_bytes

    assert _docs_bytes(spark, SF_DIR) == _docs_bytes(spark, SF_URI)
    p = os.path.join(SF_DIR, "documents.parquet")
    if os.path.isfile(p):
        assert _docs_bytes(spark, SF_DIR) == os.stat(p).st_size


@pytest.mark.parametrize(
    "name",
    [
        "stream_hourly_counts",        # streaming.events_source in place
        "stream_sliding_counts",       # complete-mode sink gate path
        "kv_stream_final_state",       # kv in-place stream + ops projection
        "dedup_ngram_jaccard",         # size-gated join strategy
        "stream_sessions_gap_closed",  # streaming.staged_source scratch path
    ],
)
def test_queries_hash_identical_under_file_uri(spark, name):
    """End-to-end: each staging/gate family must produce the identical
    result multiset when sf_dir is a file:-scheme URI — proof the whole
    path (probe, staging, stream source, cleanup) is FS-API clean."""
    from mapreduce_simple_go_spark.operators import all_queries

    fn = all_queries()[name]
    assert _digest(fn(spark, SF_DIR)) == _digest(fn(spark, SF_URI))


@pytest.mark.parametrize(
    "name",
    [
        "csv_roundtrip",
        "schema_evolution_roundtrip",
        "stream_sessions_gap_closed",    # streaming.staged_source
        "stream_user_totals_tws",        # streaming.ordered_drops_source
        "stream_session_window_native",  # the drain's forced parquet sink
    ],
)
def test_roundtrip_sinks_honor_uri_scratch_root(spark, tmp_path, monkeypatch, name):
    """The format-roundtrip entries' sinks and the streaming entries'
    staging and sink dirs come from fsutil.mkscratch: with
    SPARK_GRAFT_SCRATCH_DIR set to a file:-scheme URI the whole
    write/read-back/cleanup cycle must run through the FS API and
    hash-match the default driver-local run."""
    from mapreduce_simple_go_spark.operators import all_queries

    fn = all_queries()[name]
    base = _digest(fn(spark, SF_DIR))
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", "file:" + str(tmp_path / "sr"))
    fsutil.mkdirs(spark, "file:" + str(tmp_path / "sr"))
    assert _digest(fn(spark, SF_DIR)) == base
    # cleanup ran: the scratch root holds no leftover roundtrip dirs
    leftovers = fsutil.list_files(spark, "file:" + str(tmp_path / "sr"))
    assert leftovers == [], leftovers
