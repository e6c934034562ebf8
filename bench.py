"""Driver benchmark contract: runs every registered query (HEADLINE first)
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on get_spark()'s
local[$SPARK_GRAFT_CPUS,4] session, best-of-$SPARK_GRAFT_BENCH_PASSES
(default 3) per query, and writes per-query wall-clock seconds to
bench_out.json, stdout, and a last stdout line that fits the driver's tail.

    python bench.py
    python bench.py --one NAME --out P   # one query in a fresh session

Timing counts full query execution including the driver-side collect of the
(small) result — the same observable the reference's test harness times
(whole job wall-clock, test-mr.sh). The repo's benchmark is perfbench/;
this file only keeps the driver's contract working.
"""

from __future__ import annotations

import json
import os
import sys
import time

from mapreduce_simple_go_spark.operators import all_queries
from mapreduce_simple_go_spark.session import get_spark

HEADLINE = [
    "wc",
    "inverted_index",
    "per_file_metrics",
    "count_per_key",
    "kv_final_state",
    "kv_get_visible",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_supplier_volume",
    "q4_order_priority",
    "top_customers_per_nation",
    "revenue_by_month",
]


def run_suite(spark, sf_dir: str, passes: int = 1) -> dict[str, float]:
    """Per-query wall-clock; with passes>1, best-of-N per query.

    Best-of reduces host-level scheduling noise (this box shows transient
    2-10x per-query jitter between identical runs): the MIN is the query's
    actual cost, the max is the machine's. Each pass runs the whole suite
    in query order so pass 2 gets no intra-query cache advantage beyond
    the JVM warmth pass 1 already had.
    """
    registry = all_queries()
    names = [n for n in HEADLINE if n in registry]
    extra = [n for n in sorted(registry) if n not in HEADLINE]
    timings: dict[str, float] = {}
    for p in range(passes):
        for name in names + extra:
            fn = registry[name]
            t0 = time.monotonic()
            df = fn(spark, sf_dir)
            # collect (not count) so Catalyst cannot prune the aggregate
            # expressions out of the measured plan; results are small.
            n = len(df.collect())
            elapsed = round(time.monotonic() - t0, 3)
            if name not in timings or elapsed < timings[name]:
                timings[name] = elapsed
            print(f"# [pass {p}] {name}: {elapsed}s rows={n}", file=sys.stderr)
            # operators may cache intermediates (LSH signatures etc.); drop
            # them so one query's working set doesn't pressure the next one's
            spark.catalog.clearCache()
            # clearCache does NOT free localCheckpoint blocks (dedup_clusters'
            # iteration lineage); those are released by the ContextCleaner only
            # once Python drops its DataFrame refs — force that here so one
            # query's checkpoint blocks don't pressure the next query's heap
            import gc

            df = None
            gc.collect()
    return timings


TAIL_BUDGET = 1800


def _sf_of(sf_dir: str) -> float:
    return float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")


def tail_line(out: dict) -> str:
    """The JSON line printed last, sized to fit the driver's stdout tail.

    The driver keeps only the last ~2000 chars of stdout and parses a JSON
    line out of it; the full line (151 queries) overflows that. So the last
    line keeps the slowest queries that fit in TAIL_BUDGET chars and records
    the cut in ``queries_omitted``; ``detail`` names the file with all of
    them.
    """
    final = {k: out[k] for k in ("metric", "value", "unit", "sf")}
    final["n_queries"] = len(out["queries"])
    final["detail"] = "bench_out.json"
    by_cost = sorted(out["queries"].items(), key=lambda kv: -kv[1])
    final["queries"] = dict(by_cost)
    while len(json.dumps(final)) > TAIL_BUDGET and by_cost:
        by_cost = by_cost[:-1]  # drop the cheapest remaining query
        final["queries"] = dict(by_cost)
        final["queries_omitted"] = final["n_queries"] - len(by_cost)
    return json.dumps(final)


def _one_query_main(name: str, out_path: str) -> None:
    """`bench.py --one NAME --out P`: time one query (same warmup + best-of
    protocol) in this fresh session and write {"query","sec","rows"}."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))
    spark = get_spark(app_name="bench-one")
    spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).selectExpr(
        "sum(length(text))"
    ).collect()
    spark.range(32).mapInPandas(lambda it: it, schema="id long").collect()
    fn = all_queries()[name]
    # One UNTIMED execution of the target query itself: a fresh session's
    # generic warmup leaves this query's table footers, codegen, and
    # broadcast machinery cold, and best-of-2 then averages one cold pass
    # into the estimate — r12 calibration measured --one overshooting the
    # in-suite number ~2x on sub-second queries for exactly this reason.
    len(fn(spark, sf_dir).collect())
    spark.catalog.clearCache()
    best, rows = float("inf"), 0
    for _ in range(passes):
        t0 = time.monotonic()
        rows = len(fn(spark, sf_dir).collect())
        best = min(best, time.monotonic() - t0)
        spark.catalog.clearCache()
    with open(out_path, "w") as f:
        json.dump({"query": name, "sec": round(best, 3), "rows": rows}, f)
    spark.stop()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bench")
    # warm the JVM (codegen, shuffle machinery) AND the Python worker daemon
    # outside the timed region so the first query — and the first
    # mapInPandas query — don't absorb session/daemon startup
    spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).selectExpr(
        "sum(length(text))"
    ).collect()
    spark.range(32).mapInPandas(
        lambda it: it, schema="id long"
    ).collect()
    # best-of-3 by default: a single-shot bench read 1.25x worse than the
    # idle-host truth purely from host-load noise; a third pass tightens
    # the min estimator at ~50% extra wall.
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    timings = run_suite(spark, sf_dir, passes=passes)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "total_query_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_of(sf_dir),
    }
    # Full result goes to bench_out.json and stdout; the last line is the
    # driver's copy (see tail_line).
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_out.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(json.dumps(out))
    print(tail_line(out))
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) >= 5 and sys.argv[1] == "--one" and sys.argv[3] == "--out":
        _one_query_main(sys.argv[2], sys.argv[4])
    else:
        main()
