"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys
from types import SimpleNamespace

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import inputs  # noqa: E402
import run  # noqa: E402
import worker  # noqa: E402
from spans import Tracer, self_times, union_length  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def test_corpus_is_deterministic_per_seed():
    a, b, c = inputs.corpus_text(5), inputs.corpus_text(5), inputs.corpus_text(6)
    assert a == b
    assert a != c
    assert len(a) == inputs.CORPUS_FILES


def test_corpus_shape_and_expected_outputs():
    files = inputs.corpus_text(7)
    wc, indexer = inputs.expected_outputs(files)
    punct_only = [n for n, t in files.items() if inputs.expected_outputs({n: t})[0] == {}]
    assert len(punct_only) == 1
    assert set(wc) == set(indexer)
    assert all(re.fullmatch(r"[^\W\d_]+", w) for w in wc)  # letters only
    non_ascii = sum(1 for w in wc if not w.isascii())
    assert 0.003 < non_ascii / len(wc) < 0.03
    assert all(indexer[w].split(" ", 1)[0] == str(len(indexer[w].split(" ", 1)[1].split(",")))
               for w in indexer)
    # digits separate words: "abc42def" is two words
    assert inputs.expected_outputs({"f": "abc42def abc"})[0] == {"abc": "2", "def": "1"}


def test_tables_are_deterministic_per_seed():
    a, b = inputs.table_columns(3, 0.001), inputs.table_columns(3, 0.001)
    c = inputs.table_columns(4, 0.001)
    for t in a:
        for col in a[t]:
            assert np.array_equal(np.asarray(a[t][col]), np.asarray(b[t][col])), (t, col)
    assert not np.array_equal(c["lineitem"]["l_extendedprice"], a["lineitem"]["l_extendedprice"])
    assert len(np.unique(a["events"]["ts"])) == len(a["events"]["ts"])


def test_self_times_on_a_synthetic_tree():
    spans = [
        {"id": 0, "name": "job", "start": 0.0, "end": 10.0, "parent": None, "job": 0},
        {"id": 1, "name": "a", "start": 1.0, "end": 4.0, "parent": 0, "job": 0},
        {"id": 2, "name": "b", "start": 3.0, "end": 6.0, "parent": 0, "job": 0},  # overlaps a
        {"id": 3, "name": "a1", "start": 2.0, "end": 3.0, "parent": 1, "job": 0},
        {"id": 4, "name": "c", "start": 8.0, "end": 12.0, "parent": 0, "job": 0},  # runs past job
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (5 + 2))  # [1,6] and [8,10] covered
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(1)
    assert st[4] == pytest.approx(4)
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3)
    assert union_length([]) == 0


class _FakeSpark:
    def __init__(self):
        self.sparkContext = SimpleNamespace(setJobGroup=lambda *a: None)
        self.catalog = SimpleNamespace(clearCache=lambda: None)


class _Workload:
    jobs = ["ok", "boom", "wrong"]

    def run(self, job):
        if job == "boom":
            raise ValueError("job failed")
        return job

    def check(self, job, output):
        return "wrong result" if output == "wrong" else None


def test_failures_count_raised_and_wrong_result_jobs():
    records, walls = worker.closed_loop(_FakeSpark(), _Workload(), Tracer(False), seed=1, rounds=2, warmup=1)
    assert len(walls) == 2
    assert sum(1 for r in records if r[4]) == 6  # warm-up jobs are not measured
    failures = worker.check_outputs(_Workload(), records)
    measured = [f for f in failures if f["measured"]]
    assert sorted(f["job"] for f in measured) == ["boom", "boom", "wrong", "wrong"]
    assert {f["reason"] for f in measured} == {"ValueError: job failed", "wrong result"}
    assert len(failures) == 6  # the warm-up failures are reported too


def test_traced_loop_alternates_untraced_and_traced_rounds():
    tracer = Tracer(True)
    records, walls = worker.closed_loop(_FakeSpark(), _Workload(), tracer, seed=1, rounds=2, warmup=1)
    assert len(walls) == 4 and len(records) == 3 + 4 * 3
    roots = [s for s in tracer.spans if s["parent"] is None]
    # records 0-2 are the warm-up; rounds 1 and 3 of the measured four are traced
    assert sorted(s["job"] for s in roots) == [6, 7, 8, 12, 13, 14]
    assert all(s["end"] is not None for s in tracer.spans)
    assert tracer.enabled


def _synthetic_trace():
    """One bench job: build, then collect running one Spark job of two stages."""
    tr = Tracer(True)
    tr.job = None
    tr.add("session.get_spark", 0.0, 5.0, None, None)
    tr.add("session.first_job", 5.0, 7.0, None, None)
    root = tr.add("job.wc", 10.0, 14.0, None, 0)
    tr.add("text.build", 10.0, 11.0, root["id"], 0)
    tr.add("text.collect", 11.0, 14.0, root["id"], 0)

    def task(stage, index, attempt, launch, finish, run_ms, failed=False, write=0, read=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
                "Task Info": {"Index": index, "Attempt": attempt, "Launch Time": launch,
                              "Finish Time": finish, "Failed": failed, "Killed": False},
                "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 10,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": write * 10,
                                                           "Shuffle Records Written": write},
                                 "Shuffle Read Metrics": {"Fetch Wait Time": 5, "Total Records Read": read},
                                 "Input Metrics": {"Bytes Read": 100, "Records Read": 7}}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 11500,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": worker.JOB_GROUP + "0"}},
        task(0, 0, 0, 11500, 12000, 400, failed=True, write=3),
        task(0, 0, 1, 12000, 12500, 400, write=3),
        task(0, 1, 0, 11500, 12400, 800, write=4),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0, "Submission Time": 11500,
                        "Completion Time": 12500}},
        task(1, 0, 0, 12600, 13000, 300, read=7),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0, "Submission Time": 12600,
                        "Completion Time": 13000}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 13000},
    ]
    return tr, events


def test_layer_metrics_on_a_synthetic_trace():
    tr, events = _synthetic_trace()
    m = worker.layer_metrics(tr, events, rounds=2, map_emissions=50)
    # set-up times are per run, everything else per round (two rounds here)
    assert m["session.get_spark_s"] == 5.0
    assert m["session.jobs"] == 0.5 and m["session.stages"] == 1
    assert m["session.tasks"] == 1.5 and m["session.tasks_failed"] == 0.5
    assert m["session.task_attempts_per_task"] == pytest.approx(4 / 3)
    assert m["session.task_run_s"] == pytest.approx(1.9 / 2)
    assert m["session.task_overhead_s"] == pytest.approx((2.3 - 1.9) / 2)
    # the failed attempt's output is not counted
    assert m["session.shuffle_write_bytes"] == pytest.approx(70 / 2)
    assert m["session.shuffle_stage_s"] == pytest.approx(1.0 / 2)
    assert m["session.result_stage_s"] == pytest.approx(0.4 / 2)
    assert m["mapreduce.shuffle_records"] == 25
    assert m["sources.input_records"] == 21 / 2
    assert m["api.build_s"] == pytest.approx(1.0 / 2)
    assert m["api.materialize_s"] == pytest.approx(3.0 / 2)
    # collect's self time is what the Spark job (11.5 .. 13.0) leaves uncovered
    assert m["session.driver_self_s"] == pytest.approx((1.0 + 1.5) / 2)
    assert m["trace.layer_coverage"] == pytest.approx(1.0)
    assert worker.call_times(tr, rounds=2) == {"text.build": 0.5, "text.collect": 1.5}


def test_metric_names_are_valid_and_match_what_the_runs_print():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer") for m in spec[key]]
    assert all(NAME.fullmatch(n) for n in names), [n for n in names if not NAME.fullmatch(n)]
    assert len(names) == len(set(names))
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    tr, events = _synthetic_trace()
    traced = set(worker.layer_metrics(tr, events, rounds=1))
    assert {m["name"] for m in spec["per_layer"]} == traced | {"trace.overhead_s"}
    for m in spec["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"])


def test_percentile_interpolates():
    assert run.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert run.percentile([1.0, 2.0], 90) == pytest.approx(1.9)
    assert run.percentile([4.0], 90) == 4.0
