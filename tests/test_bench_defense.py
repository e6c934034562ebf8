"""Tests for bench.py's driver contract: the last stdout line the driver
parses, and the one-query mode scripts/scaling_exponents.py --vet calls;
and for the committed sweep artifacts scripts/scaling_exponents.py fits.
"""

from __future__ import annotations

import importlib.util
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "benchmod", os.path.join(REPO, "bench.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_tail_line_fits_driver_budget_and_keeps_slowest():
    b = _load_bench()
    timings = {f"query_{i:03d}": round(0.01 * (i + 1), 3) for i in range(151)}
    out = {
        "metric": "total_query_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
    }
    line = b.tail_line(out)
    assert len(line) <= b.TAIL_BUDGET == 1800
    got = json.loads(line)
    assert {"metric", "value", "unit", "sf", "n_queries", "detail"} <= set(got)
    assert got["n_queries"] == 151 and got["detail"] == "bench_out.json"
    kept = got["queries"]
    assert 0 < len(kept) < 151
    slowest = sorted(timings, key=timings.get, reverse=True)[: len(kept)]
    assert list(kept) == slowest
    assert all(kept[n] == timings[n] for n in kept)
    assert got["queries_omitted"] == got["n_queries"] - len(kept)


def test_one_query_mode_writes_result(tmp_path):
    """`bench.py --one NAME --out P` runs one query in a fresh session and
    writes {query, sec, rows} — the contract scaling_exponents --vet uses."""
    import subprocess

    out = tmp_path / "one.json"
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "bench.py"),
            "--one",
            "wc",
            "--out",
            str(out),
        ],
        env={
            **os.environ,
            "SPARK_GRAFT_SF_DIR": os.environ.get(
                "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
            ),
            "SPARK_GRAFT_BENCH_PASSES": "1",
        },
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-500:]
    got = json.loads(out.read_text())
    assert got["query"] == "wc" and got["rows"] > 0 and got["sec"] > 0


# The committed sweep artifacts scaling_exponents.py reads (`_latest` picks
# the newest per SF); deleting or renaming either breaks the fit.
SWEEP_ARTIFACTS = ["CORRECTNESS_SELF_SF1_r14.json", "CORRECTNESS_SELF_SF10_r14.json"]


def _scaling_exponents(*args):
    import subprocess

    return subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "scaling_exponents.py"), *args],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )


def test_scaling_fit_reads_the_committed_sweeps():
    r = _scaling_exponents()
    assert r.returncode == 0, r.stderr[-2000:]
    used = [ln.split()[-1] for ln in r.stderr.splitlines() if ln.startswith("# using ")]
    assert used == SWEEP_ARTIFACTS
    assert re.match(r"\d+ queries; median exponent ", r.stdout)


def test_scaling_gate_passes_on_committed_law():
    r = _scaling_exponents("--gate")
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    assert "# gate: no entry worsened by more than the threshold" in r.stdout
