"""E12/E13/A7 parity: task re-execution with exactly-once visible output.

The reference's jobcount test proves tasks may EXECUTE more than once while
the visible result counts each exactly once (test-mr.sh:188-210; duplicate
attempts tolerated by idempotent finish handlers, coordinator.go:175-208),
and its crash test kills a worker mid-UDF (crash.go:20-32, ``os.Exit(1)``)
and diffs the job's output against a clean run (test-mr.sh:271-317).

Spark analog: ``get_spark()``'s default master is ``local[N,4]``, so a task
that fails on its first attempt re-executes. Every test here runs on the
shared ``spark`` fixture, i.e. the engine's own default session.

Invocations are counted with one marker file per call -- the reference's
jobcount design (mr-worker-jobcount files, jobcount.go:22-32). Accumulators
won't do: Spark discards updates from failed attempts.
"""

from __future__ import annotations

import os
import uuid

import pytest

from mapreduce_simple_go_spark.engine import Engine
from mapreduce_simple_go_spark.operators import mapreduce as mr
from mapreduce_simple_go_spark.session import TASK_MAX_FAILURES

N_FILES = 6


def _mark(marker_dir: str) -> None:
    open(os.path.join(marker_dir, f"inv-{uuid.uuid4().hex}"), "w").close()


def test_failed_task_reexecutes_with_exactly_once_output(spark, tmp_path):
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    assert spark.sparkContext.master == f"local[{cpus},{TASK_MAX_FAILURES}]"
    marker_dir = str(tmp_path)

    def work(split_index, it):
        from pyspark import TaskContext

        _mark(marker_dir)
        if split_index == 3 and TaskContext.get().attemptNumber() == 0:
            raise RuntimeError("injected first-attempt failure (crash.go analog)")
        yield (split_index, sum(1 for _ in it))

    result = dict(
        spark.sparkContext.parallelize(range(800), 8)
        .mapPartitionsWithIndex(work)
        .collect()
    )
    assert result == {i: 100 for i in range(8)}, f"wrong visible output: {result}"
    assert len(os.listdir(marker_dir)) > 8, "expected a re-executed task"


def crash_first_attempt(mapf, marker_dir: str, how: str):
    """``mapf`` that dies on attempt 0 of partition 0, as crash.go does."""

    def wrapped(filename: str, contents: str):
        from pyspark import TaskContext

        _mark(marker_dir)
        ctx = TaskContext.get()
        if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            if how == "exit":
                os._exit(1)
            raise RuntimeError("injected first-attempt crash (crash.go analog)")
        return mapf(filename, contents)

    return wrapped


def _read_sink(path) -> list[str]:
    lines = []
    for name in sorted(os.listdir(path)):
        if name.startswith("part-"):
            with open(os.path.join(path, name), encoding="utf-8") as f:
                lines.extend(f.read().splitlines())
    return lines


@pytest.mark.parametrize("how", ["raise", "exit"])
def test_crash_app_output_matches_clean_run(spark, tmp_path, how):
    corpus = tmp_path / "in"
    corpus.mkdir()
    for i in range(N_FILES):
        (corpus / f"pg-{i}.txt").write_text(f"file {i} " + "word " * (i + 1))
    glob = str(corpus / "pg-*.txt")
    eng = Engine(spark)

    def run(mapf, sink):
        # two independent jobs, so both the collect and the sink re-run the
        # map stage (one lineage would reuse the first job's shuffle output)
        rows = eng.map_reduce_files(glob, mapf, mr.sorted_concat_reduce).collect()
        eng.save_text_kv(
            eng.map_reduce_files(glob, mapf, mr.sorted_concat_reduce), str(sink)
        )
        return sorted(map(tuple, rows)), _read_sink(sink)

    marker_dir = tmp_path / "markers"
    marker_dir.mkdir()
    clean_rows, clean_lines = run(mr.crash_map, tmp_path / "clean")
    rows, lines = run(
        crash_first_attempt(mr.crash_map, str(marker_dir), how), tmp_path / "crashed"
    )

    assert rows == clean_rows
    assert sorted(lines) == sorted(clean_lines)
    assert sorted(line.split(" ", 1)[0] for line in lines) == ["a", "b", "c", "d"]
    assert (tmp_path / "crashed" / "_SUCCESS").exists()
    # per job: one map call per file, plus the call that crashed
    assert len(os.listdir(marker_dir)) >= 2 * (N_FILES + 1)
