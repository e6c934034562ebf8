"""Executor-kill fault check — the reference crash.go's ``os.Exit(1)`` arm.

The reference's crash test (src/mrapps/crash.go:20-32) makes a worker
process die mid-UDF and test-mr.sh:271-317 asserts the job's final output
still equals the clean run. local[*] cannot express a worker death (one
JVM), so this script runs the SAME differential under
``local-cluster[2,1,1024]`` — a real standalone master + 2 single-core
executor JVMs — and SIGKILLs one executor JVM while the map stage is
running. Spark must relaunch the executor, re-run the lost tasks, refetch
lost shuffle output, and commit exactly-once output identical to the clean
run.

Run as a standalone process (it owns its SparkContext):

    python scripts/executor_kill_check.py

Exit 0 = clean and faulted outputs identical AND the kill demonstrably
happened (the victim pid died and its replacement executor registered).
Invoked by tests/test_executor_kill.py.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import tempfile
import threading
import time

import pyspark

os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
MAP_SLEEP_S = 0.6  # per-row stall: widens the map stage into a kill window
KILL_AFTER_S = 2.5


def executor_pids() -> set[int]:
    out = subprocess.run(
        ["pgrep", "-f", "CoarseGrainedExecutorBackend"],
        capture_output=True,
        text=True,
    )
    pids = set()
    for tok in out.stdout.split():
        try:
            pid = int(tok)
        except ValueError:
            continue
        # keep only real java executor processes (pgrep -f can catch any
        # process whose cmdline merely mentions the class name)
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().decode(errors="replace")
        except OSError:
            continue
        if "java" in cmd and "CoarseGrainedExecutorBackend" in cmd:
            pids.add(pid)
    return pids


def slow_wc_map(filename: str, contents: str):
    import time as _t

    _t.sleep(MAP_SLEEP_S)
    import regex

    return [(w, "1") for w in regex.split(r"[^\p{L}]+", contents) if w]


def main() -> int:
    from mapreduce_simple_go_spark.operators import mapreduce as mr
    from mapreduce_simple_go_spark.session import get_spark

    # lost-shuffle refetch + task retry are the recovery paths under test;
    # cluster defaults (maxFailures=4, unregisterOutputOnHostOnFailure) are
    # what a real cluster runs, so leave them.
    spark = get_spark(
        app_name="executor-kill-check",
        master="local-cluster[2,1,1024]",
        shuffle_partitions=4,
    )
    try:
        docs = (
            spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
            .selectExpr("cast(doc_id as string) filename", "text contents")
            .limit(24)
        )
        # Stage the input to durable storage and read it back: 8 map
        # partitions over 2 single-core executors means both own live map
        # tasks when the kill lands. NOT localCheckpoint — checkpoint
        # blocks live on the executor that computed them, so killing that
        # executor would make the INPUT unrecoverable (checkpoint truncates
        # lineage); recovery requires re-readable storage, exactly like the
        # reference re-reads pg-*.txt for re-executed map tasks.
        stage = os.path.join(tempfile.mkdtemp(prefix="exkill_"), "inputs")
        docs.repartition(8).write.mode("overwrite").parquet(stage)
        inputs = spark.read.parquet(stage)

        clean = sorted(
            map(
                tuple,
                mr.map_reduce_kv(spark, inputs, mr.wc_map, mr.wc_reduce, 4).collect(),
            )
        )
        print(f"clean run: {len(clean)} keys", flush=True)

        before = executor_pids()
        if len(before) < 2:
            print(f"FAIL: expected 2 executor JVMs, saw {before}", flush=True)
            return 1

        killed: dict[str, int] = {}

        def killer():
            time.sleep(KILL_AFTER_S)
            victim = max(executor_pids() | before)
            os.kill(victim, signal.SIGKILL)
            killed["pid"] = victim
            print(f"killed executor JVM {victim}", flush=True)

        t = threading.Thread(target=killer, daemon=True)
        t.start()
        faulted = sorted(
            map(
                tuple,
                mr.map_reduce_kv(
                    spark, inputs, slow_wc_map, mr.wc_reduce, 4
                ).collect(),
            )
        )
        t.join()

        after = executor_pids()
        if killed["pid"] in after:
            print(f"FAIL: victim {killed['pid']} still alive", flush=True)
            return 1
        if faulted != clean:
            print(
                f"FAIL: outputs differ (clean {len(clean)} keys, "
                f"faulted {len(faulted)} keys)",
                flush=True,
            )
            return 1
        replacement = after - before
        print(
            f"PASS: output identical under executor kill "
            f"(victim={killed['pid']}, replacement executors={sorted(replacement)})",
            flush=True,
        )
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
