"""Spark-side benchmark process, started by ``run.py``.

``worker.py probe`` sets up a session and waits to be ended: one cold-start
sample. ``worker.py run`` sets up, waits for ``GO`` on stdin, runs warm-up
rounds, then the closed loop: a single client submits each job only after
the previous one has returned. It checks every job's output after the loop
and writes a result JSON and, when traced, the span file. The end of set-up
is reported by printing ``READY`` on stdout, which the launcher times from
process start.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import random
import resource
import signal
import statistics
import sys
import time
import traceback

import inputs
import workloads
from spans import EVENT_LOG_CONF, Tracer, attach_spark_jobs, read_event_log, self_times, stage_task_counters

READY = "PERFBENCH READY"
PR_SET_PDEATHSIG = 1
JOB_GROUP = "perfbench-job-"


def _square(x: int) -> int:
    return x * x


def setup(tracer: Tracer, log_dir: str | None):
    from mapreduce_simple_go_spark.session import get_spark

    conf = None
    if log_dir is not None:
        conf = dict(EVENT_LOG_CONF, **{"spark.eventLog.dir": "file:" + log_dir})
    with tracer.span("session.get_spark"):
        spark = get_spark(app_name="perfbench", extra_conf=conf)
    with tracer.span("session.first_job"):
        spark.range(1000).selectExpr("sum(id)").collect()
        spark.sparkContext.parallelize(range(8), 2).map(_square).sum()
    print(READY, flush=True)
    return spark


def shutdown(spark) -> None:
    """Stop Spark and wait until the gateway JVM (and its workers) exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus its gateway JVM."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (own_kb + jvm_kb) / 1024.0


def make_workload(name: str, spark, inputs_root: str, work: str, seed: int, tracer: Tracer):
    if name == "mr_udf_files":
        corpus = inputs.make_corpus(inputs_root, seed)
        out = os.path.join(work, "out")
        os.makedirs(out, exist_ok=True)
        return workloads.MrUdfFiles(spark, corpus, out, tracer)
    sf_dir = inputs.make_tables(inputs_root, seed, workloads.MIX_SF)
    return workloads.QueryMix(spark, sf_dir, tracer)


def round_order(jobs: list[str], seed: int, rnd: int) -> list[str]:
    order = list(jobs)
    random.Random(seed * 1_000_003 + rnd).shuffle(order)
    return order


def closed_loop(spark, wl, tracer: Tracer, seed: int, rounds: int, warmup: int):
    """Run ``warmup`` unmeasured rounds, then ``rounds`` measured ones.

    With tracing on, runs twice the rounds and records spans in every second
    one only, so traced and untraced rounds alternate in the same warm JVM
    and their difference is the tracing overhead. Returns (records, wall
    seconds of each measured round); a record is
    (job, latency_s, output, error, measured).
    """
    sc = spark.sparkContext
    records = []

    def one(job: str, index: int | None) -> None:
        sc.setJobGroup(JOB_GROUP + str(index) if index is not None else "perfbench-warmup", job)
        tracer.job = index
        out = err = None
        t0 = time.perf_counter()
        try:
            with tracer.span("job." + job):
                out = wl.run(job)
        except Exception:  # a failed job is counted, and the loop goes on
            err = traceback.format_exc(limit=4)
            print(err, file=sys.stderr, flush=True)
        records.append((job, time.perf_counter() - t0, out, err, index is not None))
        spark.catalog.clearCache()

    traced, tracer.enabled = tracer.enabled, False
    for r in range(warmup):
        for job in round_order(wl.jobs, seed, -1 - r):
            one(job, None)
    walls = []
    for r in range(2 * rounds if traced else rounds):
        tracer.enabled = traced and r % 2 == 1
        t0 = time.perf_counter()
        for job in round_order(wl.jobs, seed, r // 2 if traced else r):
            one(job, len(records))
        walls.append(time.perf_counter() - t0)
    tracer.enabled = traced
    return records, walls


def check_outputs(wl, records) -> list[dict]:
    """One entry per job that raised or returned a wrong result.

    Runs after the loop, outside the timed region.
    """
    failures = []
    for job, _, out, err, measured in records:
        reason = err.strip().splitlines()[-1] if err else wl.check(job, out)
        if reason:
            failures.append({"job": job, "measured": measured, "reason": reason})
    return failures


def layer_metrics(tracer: Tracer, events: list[dict], rounds: int, map_emissions: int = 0) -> dict[str, float]:
    """Per-layer metrics of the traced rounds, per round except set-up times.

    Every metric is defined on both workloads. ``map_emissions`` is the
    number of (key, value) pairs the raw map functions emitted, counted by
    the workload (0 for the query mix).
    """
    owner = attach_spark_jobs(tracer, events, JOB_GROUP)
    counters = stage_task_counters(events, owner)
    spans = tracer.spans
    st = self_times(spans)

    def dur(s):
        return s["end"] - s["start"]

    def count(key):
        return sum(c[key] for c in counters.values()) / rounds

    setup = {s["name"]: dur(s) for s in spans if s["job"] is None}
    roots = [s for s in spans if s["job"] is not None and s["parent"] is None]
    calls = [s for s in spans if s["job"] is not None and s["parent"] is not None and s["name"] != "spark.job"]
    builds = [s for s in calls if s["name"].endswith(".build")]
    tasks = count("tasks")
    wall = sum(dur(s) for s in roots)
    return {
        "session.get_spark_s": setup["session.get_spark"],
        "session.first_job_s": setup["session.first_job"],
        "session.jobs": sum(1 for s in spans if s["name"] == "spark.job") / rounds,
        "session.stages": count("stages"),
        "session.tasks": tasks,
        "session.task_overhead_s": count("task_duration_s") - count("task_run_s"),
        "session.task_run_s": count("task_run_s"),
        "session.gc_s": count("gc_s"),
        "session.shuffle_stage_s": count("shuffle_stage_s"),
        "session.result_stage_s": count("result_stage_s"),
        "session.shuffle_write_bytes": count("shuffle_write_bytes"),
        "session.tasks_failed": count("tasks_failed"),
        "session.task_attempts_per_task": count("attempts") / tasks if tasks else 1.0,
        "session.driver_self_s": sum(st[s["id"]] for s in calls) / rounds,
        "sources.input_bytes": count("input_bytes"),
        "sources.input_records": count("input_records"),
        "api.build_s": sum(dur(s) for s in builds) / rounds,
        "api.materialize_s": sum(dur(s) for s in calls if s not in builds) / rounds,
        "mapreduce.shuffle_records": map_emissions / rounds,
        "trace.layer_coverage": sum(dur(s) - st[s["id"]] for s in roots) / wall,
    }


def call_times(tracer: Tracer, rounds: int) -> dict[str, float]:
    """Seconds per round inside each traced call, by span name."""
    out: dict[str, float] = {}
    for s in tracer.spans:
        if s["job"] is not None and s["parent"] is not None and s["name"] != "spark.job":
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) / rounds
    return out


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("mode", choices=["probe", "run"])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--work")
    p.add_argument("--inputs")
    p.add_argument("--traced", action="store_true")
    p.add_argument("--result")
    a = p.parse_args(argv)
    # die with the launcher; the gateway JVM then exits on EOF of its stdin
    ctypes.CDLL(None).prctl(PR_SET_PDEATHSIG, signal.SIGKILL)

    tracer = Tracer(enabled=a.traced)
    log_dir = None
    if a.traced:
        log_dir = os.path.join(a.work, "eventlog")
        os.makedirs(log_dir)
    spark = setup(tracer, log_dir)
    if a.mode == "probe":
        time.sleep(600)  # the launcher ends the probe's process group
        return 0
    if sys.stdin.readline().strip() != "GO":  # the launcher has gone
        shutdown(spark)
        return 1
    phases = {}
    t = time.perf_counter()
    try:
        wl = make_workload(a.workload, spark, a.inputs, a.work, a.seed, tracer)
        rounds = max(workloads.MIN_ROUNDS, round(a.seconds / wl.round_seconds))
        records, round_walls = closed_loop(spark, wl, tracer, a.seed, rounds, wl.warmup_rounds)
        peak_rss = _peak_rss_mb(spark)
        phases["warmup_and_loop_s"] = time.perf_counter() - t
    finally:
        t = time.perf_counter()
        shutdown(spark)
        phases["shutdown_s"] = time.perf_counter() - t

    t = time.perf_counter()
    failures = check_outputs(wl, records)
    phases["checks_s"] = time.perf_counter() - t
    measured = [(job, lat) for job, lat, _, _, m in records if m]
    result = {
        "jobs": [j for j, _ in measured],
        "latencies_s": [lat for _, lat in measured],
        "round_walls_s": round_walls,
        "failures": failures,
        "peak_rss_mb": peak_rss,
        "phases_s": phases,
    }
    if a.traced:
        emissions = wl.map_emissions.value if a.workload == "mr_udf_files" else 0
        layers = layer_metrics(tracer, read_event_log(log_dir), rounds, emissions)
        layers["trace.overhead_s"] = statistics.mean(round_walls[1::2]) - statistics.mean(round_walls[0::2])
        result["layers"] = layers
        result["call_times_s"] = call_times(tracer, rounds)
        tracer.write(os.path.join(a.work, "spans.json"))
    with open(a.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
