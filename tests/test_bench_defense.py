"""Test for bench.py's driver contract: the last stdout line, which the
driver parses out of the ~2000-character tail it keeps of stdout.
"""

from __future__ import annotations

import importlib.util
import json
import os

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
