"""Speculative-execution end-to-end check — the straggler arm of the
reference's fault story (mtiming/rtiming probes + test-mr.sh's
expectation that one slow worker does not corrupt the job), driven
through Spark's REAL speculation machinery.

Under ``local-cluster[2,1,1024]`` (real standalone master, 2 single-core
executor JVMs) with speculation enabled and aggressive knobs, one map
task stalls ~25 s while its 7 siblings finish instantly. The check
asserts, live, that the scheduler's speculation machinery:

1. is actually running (the ``task-scheduler-speculation`` thread exists
   in the driver JVM — `spark.speculation` only starts it for non-local
   masters, which is why this needs local-cluster, not local[*]), and
2. MARKS the straggler speculatable (TaskSetManager.speculatableTasks
   becomes non-empty — the decision a real cluster acts on), and
3. the job output is identical to the straggler-free expectation.

What CANNOT be shown on one machine: the speculative copy actually
launching and winning the race. Spark only schedules a speculative
attempt on a DIFFERENT HOST than the original (TaskSetManager's
hasAttemptOnHost exclusion — re-running on the same possibly-sick host
would be pointless), and every local-cluster executor shares this host.
That exclusion is itself correct 1000-executor behavior; the launch path
is exercised the moment this suite runs on a multi-host cluster, with no
code change. (Verified empirically: the straggler is marked within
seconds but the stage still waits out the stall, and the event log shows
no second attempt — exactly the same-host refusal.)

Run standalone (owns its SparkContext): python scripts/speculation_check.py
Exit 0 = all three hold. Invoked by tests/test_speculation.py.
"""

from __future__ import annotations

import os
import sys
import threading
import time

import pyspark

os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_PARTS = 8
N_ROWS = 200
STRAGGLE_S = 25.0
POLL_S = 0.5
# Poll while the job is alive, up to 3x the injected stall: executor
# launch on local-cluster can eat 5-10 s before the straggler even
# starts, so a fixed 20 s wall budget was timing-sensitive under load.
POLL_BUDGET_S = 3 * STRAGGLE_S


def straggler_partition_sums(idx: int, it):
    from pyspark import TaskContext

    tc = TaskContext.get()
    if idx == 0 and tc is not None and tc.attemptNumber() == 0:
        time.sleep(STRAGGLE_S)
    return [(idx, sum(it))]


def main() -> int:
    from mapreduce_simple_go_spark.session import get_spark

    spark = get_spark(
        app_name="speculation-check",
        master="local-cluster[2,1,1024]",
        extra_conf={
            "spark.speculation": "true",
            "spark.speculation.interval": "200ms",
            "spark.speculation.multiplier": "1.5",
            "spark.speculation.quantile": "0.25",
            # 3.4+ gates speculation on task-efficiency metrics Python RDD
            # tasks don't report; disable so duration alone decides
            "spark.speculation.efficiency.enabled": "false",
        },
    )
    try:
        sc = spark.sparkContext

        jthreads = sc._jvm.java.lang.Thread.getAllStackTraces().keySet().toArray()
        names = {str(t.getName()) for t in jthreads}
        if "task-scheduler-speculation" not in names:
            print("FAIL: speculation scheduler thread not running", flush=True)
            return 1
        print("speculation scheduler thread running", flush=True)

        rdd = sc.parallelize(range(N_ROWS), N_PARTS)
        per = N_ROWS // N_PARTS
        expected = sorted(
            (i, sum(range(i * per, (i + 1) * per))) for i in range(N_PARTS)
        )

        res: dict = {}

        def run():
            res["got"] = sorted(
                rdd.mapPartitionsWithIndex(straggler_partition_sums).collect()
            )

        t = threading.Thread(target=run, daemon=True)
        t0 = time.monotonic()
        t.start()

        # live-poll the scheduler's own speculation state: the straggler
        # must be MARKED speculatable while it is still running
        marked = 0
        pool = sc._jsc.sc().taskScheduler().rootPool()
        while (
            t.is_alive()
            and not marked
            and time.monotonic() - t0 < POLL_BUDGET_S
        ):
            time.sleep(POLL_S)
            it = pool.schedulableQueue().iterator()
            while it.hasNext():
                tsm = it.next()
                try:
                    marked = max(marked, tsm.speculatableTasks().size())
                except Exception:
                    pass  # task set may complete between hasNext and size
        t.join(timeout=2 * STRAGGLE_S)

        if marked < 1:
            print("FAIL: straggler never marked speculatable", flush=True)
            return 1
        print(f"straggler marked speculatable ({marked} task)", flush=True)

        if res.get("got") != expected:
            print(f"FAIL: output differs: {res.get('got')} != {expected}", flush=True)
            return 1
        print(
            "PASS: straggler detected by the speculation scheduler and "
            "job output identical to the straggler-free expectation",
            flush=True,
        )
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
