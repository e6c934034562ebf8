"""Content-keyed cache for DuckDB oracle results in the sweep harness.

The 4-SF self-correctness sweep's wall clock is dominated by re-running
UNCHANGED oracles on UNCHANGED fixtures (the 64-bit SRP signature fold
alone costs ~1070 s at the 100x fixture, every sweep). A cache keyed by
(fixture content digest, oracle-SQL hash) makes consolidation-round sweeps
nearly incremental: a hit returns the stored (row count, columns, multiset
digest) — everything the gate compares — without touching DuckDB.

Keying is CONTENT-based, not round-based: the fixture digest covers every
table file's (name, size, mtime_ns), so a regenerated fixture invalidates
even at identical paths, and the SQL hash covers the exact oracle text, so
any oracle edit invalidates (both pinned by tests/test_oracle_cache.py).
Spark results are never cached — the engine under test runs every sweep.

Disable with SPARK_GRAFT_ORACLE_CACHE=0; relocate with
SPARK_GRAFT_ORACLE_CACHE_DIR (default <repo>/.oracle_cache, gitignored).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def enabled() -> bool:
    return os.environ.get("SPARK_GRAFT_ORACLE_CACHE", "1") != "0"


def cache_dir() -> str:
    return os.environ.get(
        "SPARK_GRAFT_ORACLE_CACHE_DIR", os.path.join(REPO, ".oracle_cache")
    )


_SAMPLE = 64 * 1024


def fixture_digest(sf_dir: str, tables) -> str:
    """Digest of every table file's identity + a content sample.

    Per file: (relative name, byte size, mtime_ns) AND the first/last 64 KB
    of bytes (pure stat keying would let an mtime-preserving restore —
    ``cp -p`` / ``tar`` / ``rsync -a`` — of a different same-size fixture
    serve a stale verdict; parquet packs the footer metadata in the tail
    and dictionary/stat pages near the head, so the 128 KB sample moves on
    any regeneration even when sizes collide). Missing tables hash as
    absent rather than erroring: an oracle that doesn't reference them is
    still cacheable.
    """
    h = hashlib.sha256()
    for t in sorted(tables):
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isfile(path):
            files = [path]
        elif os.path.isdir(path):
            files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        else:
            h.update(f"{t}:absent".encode())
            continue
        for f in files:
            st = os.stat(f)
            h.update(
                f"{t}/{os.path.basename(f)}:{st.st_size}:{st.st_mtime_ns}".encode()
            )
            with open(f, "rb") as fh:
                h.update(fh.read(_SAMPLE))
                if st.st_size > _SAMPLE:
                    fh.seek(max(_SAMPLE, st.st_size - _SAMPLE))
                    h.update(fh.read(_SAMPLE))
    return h.hexdigest()


def key(fix_digest: str, sql: str) -> str:
    return hashlib.sha256((fix_digest + "\0" + sql).encode()).hexdigest()


def get(fix_digest: str, sql: str) -> dict | None:
    """Cached oracle verdict material, or None on miss/disabled."""
    if not enabled():
        return None
    p = os.path.join(cache_dir(), key(fix_digest, sql) + ".json")
    if not os.path.isfile(p):
        return None
    try:
        with open(p) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return None


def put(fix_digest: str, sql: str, rows: int, columns, digest, oracle_s: float) -> None:
    """Store a verdict. ``digest`` is conftest.rows_digest's (count, sum128)
    tuple — JSON-stored as a list (Python ints are arbitrary-precision both
    ways); readers compare ``tuple(cached["digest"])``."""
    if not enabled():
        return
    os.makedirs(cache_dir(), exist_ok=True)
    p = os.path.join(cache_dir(), key(fix_digest, sql) + ".json")
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {
                "rows": rows,
                "columns": list(columns),
                "digest": list(digest),
                "oracle_s": oracle_s,
            },
            f,
        )
    os.replace(tmp, p)
