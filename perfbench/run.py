"""Benchmark launcher: one workload, one seed, one JSON line of metrics.

    python3 perfbench/run.py --workload mr_udf_files --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Spark runs in worker processes on
``local[<usable cores>]``; the launcher gives them an environment that keeps
every file they write under ``.perfbench/`` and puts the checkout on the
Python path of the driver and of Spark's Python workers (which import the
map/reduce functions by module name).

``--trace 0`` measures the end-to-end metrics. Three cold starts are
launched together (two set-up probes and the measuring worker) and
``setup_s`` is their median; the probes are ended before the measuring
worker leaves set-up. It then runs the workload's warm-up rounds and a
closed loop of whole rounds, as many as take about ``--seconds`` (see
workloads.py). ``--trace 1`` starts one worker with Spark's event log on,
alternates untraced and traced rounds, and reports per-layer metrics of the
traced rounds plus the tracing overhead (mean traced minus mean untraced
round time).

The last line of stdout is ``{"correct", "attempted", "failed", "metrics"}``;
a human-readable summary goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("mr_udf_files", "query_mix_small")
DEADLINE_S = 170.0  # every run ends well within the 180 s limit


class BenchError(RuntimeError):
    pass


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100)."""
    s = sorted(xs)
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def worker_env(root: str, work: str) -> dict[str, str]:
    env = dict(os.environ)
    for sub in ("tmp", "spark-local", "warehouse", "scratch"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, HERE, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    env["SPARK_GRAFT_SCRATCH_DIR"] = os.path.join(work, "scratch")
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["TZ"] = "UTC"
    # three JVMs start at once on a machine shared with others: keep heaps small
    env["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData"
    return env


class Worker:
    """One worker process in its own process group, bounded by a deadline."""

    def __init__(self, mode: str, env: dict[str, str], work: str, deadline: float, extra: list[str]):
        os.makedirs(work)
        self.work = work
        self.log_path = os.path.join(work, "worker.log")
        self._log = open(self.log_path, "w")
        self._ready = threading.Event()
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), mode, "--work", work,
             "--result", os.path.join(work, "result.json"), *extra],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log, env=env,
            text=True, start_new_session=True,
        )
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()
        self._timer = threading.Timer(max(deadline - time.monotonic(), 1.0), self.kill)
        self._timer.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.strip() == "PERFBENCH READY" and not self._ready.is_set():
                self.ready_at = time.perf_counter()
                self._ready.set()
        self._ready.set()  # end of output: wait_ready() need not block

    def kill(self) -> None:
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def wait_ready(self) -> float:
        """Seconds from process start until the worker's set-up finished."""
        self._ready.wait()
        if not hasattr(self, "ready_at"):
            self.finish()
            raise BenchError(f"worker exited during set-up; log: {self.tail()}")
        return self.ready_at - self.t0

    def go(self) -> None:
        """Let a set-up worker continue into its workload."""
        self.proc.stdin.write("GO\n")
        self.proc.stdin.close()

    def finish(self, kill: bool = False) -> None:
        """Wait for the worker, then for every process it started, to end.

        ``kill`` ends the worker's whole process group at once: a set-up
        probe has nothing left to do once it is ready.
        """
        if kill:
            self.kill()
        code = self.proc.wait()
        self._reader.join()
        for _ in range(300):
            try:
                os.killpg(self.proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.1)
        else:
            self.kill()
        self._timer.cancel()
        self._log.close()
        if code != 0 and not kill:
            raise BenchError(f"worker exited with {code}; log: {self.tail()}")

    def result(self) -> dict:
        with open(os.path.join(self.work, "result.json")) as f:
            return json.load(f)

    def tail(self, n: int = 15) -> str:
        with open(self.log_path, errors="replace") as f:
            return "".join(f.readlines()[-n:])


def run_loop(env: dict, work: str, deadline: float, extra: list[str]) -> dict:
    """A workload worker with nothing else running: its result dict."""
    w = Worker("run", env, work, deadline, extra)
    try:
        w.wait_ready()
        w.go()
    finally:
        w.finish()
    return w.result()


def measure(env: dict, runs: str, deadline: float, loop_args: list[str]) -> tuple[list[float], dict]:
    """Three cold starts launched together, then the workload on one of them.

    The two probes are ended as soon as all three are set up, before the
    measuring worker leaves set-up, so they share no time with the loop.
    """
    main = Worker("run", env, os.path.join(runs, "main"), deadline, loop_args)
    probes = [Worker("probe", env, os.path.join(runs, f"probe{i}"), deadline, []) for i in range(2)]
    try:
        setups = [w.wait_ready() for w in [main, *probes]]
    except BenchError:
        main.finish(kill=True)
        raise
    finally:
        for w in probes:
            w.finish(kill=True)
    try:
        main.go()
    finally:
        main.finish()
    return setups, main.result()


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mapreduce_simple_go_spark", "engine.py")):
        print("run from the root of a checkout: mapreduce_simple_go_spark/ not found", file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench")
    runs = os.path.join(base, "runs")
    for sub in ("runs", "spark-local", "tmp"):  # left by earlier runs
        shutil.rmtree(os.path.join(base, sub), ignore_errors=True)
    env = worker_env(root, base)

    # inputs are generated (or reused from the cache) before any timing
    import inputs
    import workloads

    inputs_root = os.path.join(base, "inputs")
    if a.workload == "mr_udf_files":
        inputs.make_corpus(inputs_root, a.seed)
    else:
        inputs.make_tables(inputs_root, a.seed, workloads.MIX_SF)

    loop_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--inputs", inputs_root]
    try:
        if a.trace == 0:
            setups, res = measure(env, runs, deadline, loop_args)
            lat, walls = res["latencies_s"], res["round_walls_s"]
            metrics = {
                "setup_s": (statistics.median(setups), "s"),
                "latency_p50_s": (percentile(lat, 50), "s"),
                "latency_p90_s": (percentile(lat, 90), "s"),
                "jobs_per_min": (60.0 * len(lat) / len(walls) / statistics.median(walls), "1/min"),
                "peak_rss_mb": (res["peak_rss_mb"], "MB"),
            }
            note = f"setup samples {[round(x, 3) for x in setups]}"
        else:
            res = run_loop(env, os.path.join(runs, "traced"), deadline, loop_args + ["--traced"])
            metrics = {k: (v, unit_of(k)) for k, v in res["layers"].items()}
            note = f"spans in {os.path.join(runs, 'traced', 'spans.json')}; s/round per call " + ", ".join(
                f"{k} {v:.4f}" for k, v in sorted(res["call_times_s"].items()))
    except BenchError as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1

    failures = res["failures"]
    attempted = len(res["latencies_s"])
    failed = sum(1 for f in failures if f["measured"])
    for f in failures:
        print(f"FAILED {f['job']}{'' if f['measured'] else ' (warm-up)'}: {f['reason']}", file=sys.stderr)
    print(f"# {a.workload} seed={a.seed} trace={a.trace}: {attempted} jobs in {len(res['round_walls_s'])} rounds "
          f"over {sum(res['round_walls_s']):.2f} s, failure_ratio={failed / attempted:.4f}; {note}; "
          f"phases {json.dumps({k: round(v, 2) for k, v in res['phases_s'].items()})}",
          file=sys.stderr)
    for k, (v, u) in metrics.items():
        print(f"#   {k} = {v:.6g} {u}", file=sys.stderr)
    by_job: dict[str, list[float]] = {}
    for job, lat in zip(res["jobs"], res["latencies_s"]):
        by_job.setdefault(job, []).append(lat)
    print("#   median latency per job: " + ", ".join(
        f"{j} {statistics.median(v):.3f} s" for j, v in sorted(by_job.items())), file=sys.stderr)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def unit_of(metric: str) -> str:
    """Per-layer units: set-up times are per run, everything else per round."""
    if metric in ("session.get_spark_s", "session.first_job_s"):
        return "s"
    if metric.endswith("_s"):
        return "s/round"
    if metric.endswith("_bytes"):
        return "B/round"
    if metric == "session.task_attempts_per_task":
        return "ratio"
    if metric == "trace.layer_coverage":
        return "ratio"
    return "count/round"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
