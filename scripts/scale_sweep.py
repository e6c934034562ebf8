"""Scaling-exponent sweep: heavy-tail queries at sf0.1 vs the 10x fixture.

For each query: best-of-N warm wall-clock at both scale factors, then
exponent = log(t_big / t_small) / log(factor). 1.0 = perfectly linear;
< 1 = fixed overheads still dominate; >> 1 = a plan that stopped scaling.
Run AFTER `python scripts/make_scaled_fixture.py` and on an otherwise idle
host (the documented 2-7x jitter applies; best-of-N takes the min).

Noise defense (r9): any query whose measured big/small
ratio exceeds the fixture factor (an above-linear reading — exactly the
numbers that drive scaling-law flags) is automatically RE-MEASURED in a
fresh isolated subprocess session before it lands in the artifact; both
numbers are recorded ("in_sweep" vs the headline, which takes the per-point
min) and `"revetted": true` marks the row. Cold-page-cache sweep ordering
produced four false above-linear flags in r8; this makes the artifact
noise-vetted at the source instead of relying on per-round manual
re-measures. `--no-revet` disables (used by the recursion itself).

Usage: python scripts/scale_sweep.py [--passes N] [--out PATH] [--no-revet] [query ...]
Writes scale_sweep_out.json (or --out; git-ignored) and prints a markdown
table.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import pyspark

os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SMALL = os.environ.get("SPARK_GRAFT_SWEEP_SMALL", "/root/testdata/sf0.1")
BIG = os.environ.get(
    "SPARK_GRAFT_SWEEP_BIG", os.path.join(REPO, ".localdata", "sf1")
)
FACTOR = float(os.environ.get("SPARK_GRAFT_SWEEP_FACTOR", "10"))

# The heavy tail: every operator whose 100 TB survival story SCALE.md argues
# from structure (bucketing, ceilings, incremental probes) rather than from
# a trivially linear plan.
DEFAULT_QUERIES = [
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_clusters",
    "dedup_minhash_incremental",
    "training_corpus_pipeline",
    "ann_ivf_topk",
    "ann_srp_topk",
    # workload-constant ANN arm: q fixed across SFs, so
    # these exponents measure the production contract (~linear) instead of
    # the q = n/100 construction's sf^2 pair growth
    "ann_cosine_topk_fixedq",
    "ann_ivf_topk_fixedq",
    "ann_srp_topk_fixedq",
    "embedding_near_dup_ivf",
    "kmeans_clusters",
    "kv_stream_final_state",
    "stream_sessions_gap_closed",
    "word_pagerank",
    "inverted_index",
    "wc",
]


# Materialization method for the timed region. Default: len(collect()) —
# the bench protocol. "topandas" matches self_correctness.py's Arrow-path
# timing instead; the law vetter sets it so isolated re-measures are
# method-comparable with the in-sweep spark_s points (collect's py4j row
# transfer costs ~10 s per million output rows, so a collect-based
# re-measure of a big-output entry can NEVER clear a toPandas-measured
# flag — scd2_user_state at sf10 demonstrated exactly this in r9).
_METHOD = os.environ.get("SPARK_GRAFT_SWEEP_METHOD", "collect")


def timed(fn, spark, sf_dir, passes):
    import gc

    best = math.inf
    rows = 0
    for _ in range(passes):
        t0 = time.monotonic()
        df = fn(spark, sf_dir)
        if _METHOD == "topandas":
            rows = len(df.toPandas())
        elif _METHOD == "noop":
            # distributed materialization without any driver transfer —
            # the only honest way to time an operator whose OUTPUT is
            # tens of millions of rows (the r11 sf100 spot-check's
            # sessionizer emits ~94M; py4j/Arrow transfer would dwarf the
            # compute being measured). Exponents stay comparable as long
            # as BOTH scale points use the same method.
            df.write.format("noop").mode("overwrite").save()
            rows = -1
        else:
            rows = len(df.collect())
        best = min(best, time.monotonic() - t0)
        spark.catalog.clearCache()
        df = None
        gc.collect()
    return round(best, 3), rows


def isolated_remeasure(name: str, passes: int) -> dict | None:
    """Best-of-N for ONE query in a fresh subprocess JVM/session (cold
    executors, but warm OS page cache from the in-sweep run — isolating
    exactly the sweep-order effect). Returns that run's row or None."""
    import subprocess
    import tempfile

    # mkstemp, not the race-prone deprecated mktemp: the fd is
    # closed immediately — only the unique pathname is needed; the
    # subprocess overwrites the (empty) file via --out.
    fd, out = tempfile.mkstemp(suffix=".json", prefix="revet_")
    os.close(fd)
    r = subprocess.run(
        [
            sys.executable,
            os.path.abspath(__file__),
            "--passes",
            str(passes),
            "--no-revet",
            "--out",
            out,
            name,
        ],
        # the parent already ran the idle guard, and its own (stopped but
        # still-resident) gateway JVM would false-trip the child's check
        env={**os.environ, "SPARK_GRAFT_SWEEP_REQUIRE_IDLE": "0"},
        capture_output=True,
        text=True,
        timeout=3600,
    )
    if r.returncode != 0 or not os.path.getsize(out):
        print(f"# revet {name}: subprocess failed\n{r.stderr[-500:]}", file=sys.stderr)
        return None
    try:
        with open(out) as f:
            return json.load(f)["queries"][name]
    finally:
        os.unlink(out)


def foreign_spark_jvms() -> list[int]:
    """PIDs of Spark JVMs already running on this host (none of ours —
    called before this process starts its own session).

    The r9 sf10 sweep was silently contaminated by a verify bench
    co-scheduled mid-sweep; measuring while another Spark JVM
    competes for the same 32 cores produces exactly the uniform inflation
    the noise vetting exists to catch — better to detect it up front.
    """
    pids: list[int] = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read().decode("utf-8", "replace")
        except OSError:
            continue
        if "java" in cmd.split("\0", 1)[0] and (
            "org.apache.spark" in cmd or "pyspark-shell" in cmd
        ):
            pids.append(int(d))
    return pids


def main() -> int:
    args = sys.argv[1:]
    passes = 2
    out_path = os.path.join(REPO, "scale_sweep_out.json")
    revet = True
    while args and args[0].startswith("--"):
        if args[0] == "--passes":
            passes = int(args[1])
            args = args[2:]
        elif args[0] == "--out":
            out_path = args[1]
            args = args[2:]
        elif args[0] == "--no-revet":
            revet = False
            args = args[1:]
        else:
            raise SystemExit(f"unknown flag {args[0]}")
    names = args or DEFAULT_QUERIES

    # Co-scheduling guard (r9 lesson, memorialized as tooling): refuse —
    # or at minimum stamp the artifact — when another Spark JVM is live.
    coscheduled = foreign_spark_jvms()
    if coscheduled:
        msg = (
            f"# WARNING: foreign Spark JVM(s) running: {coscheduled} — "
            "sweep timings will be contaminated"
        )
        if os.environ.get("SPARK_GRAFT_SWEEP_REQUIRE_IDLE", "1") != "0":
            raise SystemExit(
                msg + "\n# refusing to sweep; finish/kill them or set "
                "SPARK_GRAFT_SWEEP_REQUIRE_IDLE=0 to proceed (the artifact "
                "will carry a coscheduled_at_start stamp)"
            )
        print(msg, file=sys.stderr, flush=True)

    from mapreduce_simple_go_spark.operators import all_queries
    from mapreduce_simple_go_spark.session import get_spark

    registry = all_queries()
    spark = get_spark(app_name="scale-sweep")
    # same warmup as bench.py: JVM + Python daemon outside the timed region
    spark.read.parquet(os.path.join(SMALL, "documents.parquet")).selectExpr(
        "sum(length(text))"
    ).collect()
    spark.range(32).mapInPandas(lambda it: it, schema="id long").collect()

    results = {}
    for name in names:
        fn = registry[name]
        t_small, n_small = timed(fn, spark, SMALL, passes)
        t_big, n_big = timed(fn, spark, BIG, passes)
        exp = round(math.log(t_big / t_small) / math.log(FACTOR), 2)
        results[name] = {
            "t_small": t_small,
            "t_big": t_big,
            "rows_small": n_small,
            "rows_big": n_big,
            "exponent": exp,
        }
        print(
            f"# {name}: {t_small}s -> {t_big}s  exp={exp} "
            f"rows {n_small}->{n_big}",
            file=sys.stderr,
            flush=True,
        )
    spark.stop()

    if revet:
        def _revet_one(name: str, r: dict, why: str) -> None:
            print(f"# revet {name}: {why}, isolating...",
                  file=sys.stderr, flush=True)
            iso = isolated_remeasure(name, passes)
            if iso is None:
                return
            r["in_sweep"] = {"t_small": r["t_small"], "t_big": r["t_big"],
                             "exponent": r["exponent"]}
            r["revetted"] = why
            # min per point: both runs are warm best-of-N, so the smaller
            # is the less-noise-contaminated estimate at each SF
            r["t_small"] = min(r["t_small"], iso["t_small"])
            r["t_big"] = min(r["t_big"], iso["t_big"])
            r["exponent"] = round(
                math.log(r["t_big"] / r["t_small"]) / math.log(FACTOR), 2
            )
            print(
                f"# revet {name}: {r['in_sweep']['t_big']}s -> "
                f"{r['t_big']}s isolated  exp {r['in_sweep']['exponent']} "
                f"-> {r['exponent']}",
                file=sys.stderr,
                flush=True,
            )

        flagged = {n for n, r in results.items()
                   if r["t_big"] / r["t_small"] > FACTOR}
        for name in sorted(flagged):
            _revet_one(name, results[name], "above-linear")
        # Two-sided: re-vetting ONLY above-linear rows can only
        # move flagged rows toward linear, leaving below-linear rows whose
        # SMALL point was noise-inflated unexamined — a systematic downward
        # bias in the published median exponent. Also re-vet the K
        # most-below-linear unflagged rows (deterministic choice: lowest
        # exponents); min-per-point on an inflated t_small RAISES their
        # exponent, so this measures the bias instead of assuming it away.
        below = sorted(
            (n for n in results if n not in flagged),
            key=lambda n: results[n]["exponent"],
        )[: min(3, len(results) - len(flagged))]
        for name in below:
            _revet_one(name, results[name], "below-linear-sample")

    out = {
        "small": SMALL,
        "big": BIG,
        "factor": FACTOR,
        "passes": passes,
        "coscheduled_at_start": coscheduled,
        "coscheduled_at_end": foreign_spark_jvms(),
        "queries": results,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")

    print("| query | sf0.1 s | 10x s | rows 10x/1x | exponent |")
    print("|---|---|---|---|---|")
    for name, r in sorted(results.items(), key=lambda kv: -kv[1]["exponent"]):
        ratio = (
            round(r["rows_big"] / r["rows_small"], 1) if r["rows_small"] else "-"
        )
        print(
            f"| {name} | {r['t_small']} | {r['t_big']} | {ratio} "
            f"| {r['exponent']} |"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
