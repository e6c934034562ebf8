"""The sweep harness's oracle cache must hit only on identical content.

The cache (scripts/oracle_cache.py) keys on (fixture content digest,
oracle-SQL hash): any oracle edit or fixture regeneration MUST miss, and a
hit must return exactly the stored verdict material. Spark results are
never cached — only the DuckDB oracle side, whose re-runs dominated the
at-scale sweep wall clock.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_spec = importlib.util.spec_from_file_location(
    "oracle_cache", os.path.join(REPO, "scripts", "oracle_cache.py")
)
oc = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(oc)


def test_put_get_roundtrip(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_CACHE_DIR", str(tmp_path))
    fd = "f" * 64
    oc.put(fd, "SELECT 1", 3, ["a", "b"], (3, 12345678901234567890), 1.5)
    got = oc.get(fd, "SELECT 1")
    assert got["rows"] == 3 and got["columns"] == ["a", "b"]
    assert tuple(got["digest"]) == (3, 12345678901234567890)
    assert got["oracle_s"] == 1.5


def test_mutated_oracle_sql_misses(tmp_path, monkeypatch):
    """The invalidation contract: ANY change to the oracle text is a miss —
    a stale verdict must never be served for edited SQL."""
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_CACHE_DIR", str(tmp_path))
    fd = "f" * 64
    oc.put(fd, "SELECT a FROM t", 1, ["a"], (1, 1), 0.1)
    assert oc.get(fd, "SELECT a FROM t") is not None
    assert oc.get(fd, "SELECT a FROM t WHERE a > 0") is None
    assert oc.get(fd, "select a from t") is None  # byte-exact, not semantic


def test_fixture_regeneration_invalidates(tmp_path, monkeypatch):
    """Rewriting a table file — even same name, same size — moves mtime_ns,
    so the fixture digest changes and every cached verdict for the old
    fixture misses."""
    d = tmp_path / "sf"
    d.mkdir()
    (d / "orders.parquet").write_bytes(b"x" * 100)
    dig1 = oc.fixture_digest(str(d), ["orders", "lineitem"])
    dig_same = oc.fixture_digest(str(d), ["orders", "lineitem"])
    assert dig1 == dig_same
    os.utime(d / "orders.parquet", ns=(1, 2))  # same bytes, new mtime
    assert oc.fixture_digest(str(d), ["orders", "lineitem"]) != dig1
    # content growth also invalidates
    (d / "orders.parquet").write_bytes(b"x" * 101)
    assert oc.fixture_digest(str(d), ["orders", "lineitem"]) != dig1


def test_mtime_preserving_restore_invalidates(tmp_path):
    """A different fixture restored with identical size AND
    mtime (cp -p / tar / rsync -a) must still miss — the digest now
    samples file content (first/last 64 KB), not just stat metadata.
    Also true when only MIDDLE-adjacent tail bytes differ on a file larger
    than one sample window."""
    d = tmp_path / "sf"
    d.mkdir()
    p = d / "orders.parquet"
    p.write_bytes(b"a" * 100)
    os.utime(p, ns=(111, 222))
    dig1 = oc.fixture_digest(str(d), ["orders"])
    p.write_bytes(b"b" * 100)  # same size, different bytes
    os.utime(p, ns=(111, 222))  # restore the exact mtime
    assert oc.fixture_digest(str(d), ["orders"]) != dig1

    # > one sample window: differing TAIL bytes (parquet footer territory)
    big1 = b"h" * (3 * oc._SAMPLE)
    big2 = big1[:-1] + b"X"
    p.write_bytes(big1)
    os.utime(p, ns=(111, 222))
    dig_big1 = oc.fixture_digest(str(d), ["orders"])
    p.write_bytes(big2)
    os.utime(p, ns=(111, 222))
    assert oc.fixture_digest(str(d), ["orders"]) != dig_big1


def test_disable_env(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_CACHE_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_CACHE", "0")
    oc.put("f" * 64, "SELECT 1", 1, ["a"], (1, 1), 0.1)
    assert oc.get("f" * 64, "SELECT 1") is None
    assert not list(tmp_path.iterdir())


def test_sweep_second_run_hits_and_stays_green(tmp_path):
    """End-to-end through the real sweep harness: two --only runs of the
    same entry at the same fixture — the second must record
    oracle_cached=true and the identical green verdict."""
    env = dict(os.environ)
    env["SPARK_GRAFT_ORACLE_CACHE_DIR"] = str(tmp_path / "cache")
    env.pop("SPARK_GRAFT_ORACLE_CACHE", None)

    def run(out):
        r = subprocess.run(
            [
                sys.executable,
                os.path.join(REPO, "scripts", "self_correctness.py"),
                str(out),
                "--only",
                "wc",
            ],
            cwd=REPO,
            env=env,
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        with open(out) as f:
            return json.load(f)["wc"]

    first = run(tmp_path / "o1.json")
    second = run(tmp_path / "o2.json")
    assert first["hash_match"] and "oracle_cached" not in first
    assert second["hash_match"] and second.get("oracle_cached") is True
    assert second["oracle_rows"] == first["oracle_rows"]


def test_sweep_without_output_path_exits_2_and_writes_nothing(tmp_path):
    """The output path is required: run with no argument, the sweep prints
    its usage and exits 2 before building a session, and writes no file
    into the working directory."""
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "self_correctness.py")],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 2, r.stderr[-2000:]
    assert "usage:" in r.stderr
    assert list(tmp_path.iterdir()) == []
