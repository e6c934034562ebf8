"""The runtime package reads only deployment settings from the environment.

Tuning values are module constants, the way the reference hard-codes its
own (R = 10 reduce tasks in mrcoordinator.go), so tier-1 and the benchmark
cover the one configuration every run uses.
"""

from __future__ import annotations

import re
from pathlib import Path

import mapreduce_simple_go_spark

DEPLOYMENT_SETTINGS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_SCRATCH_DIR",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_WAREHOUSE",
}


def test_environment_names_are_deployment_settings_only():
    root = Path(mapreduce_simple_go_spark.__file__).parent
    names = {
        name
        for path in root.rglob("*.py")
        for name in re.findall(r"SPARK_GRAFT_[A-Z_]+", path.read_text())
    }
    assert names == DEPLOYMENT_SETTINGS


def test_bench_reads_only_the_driver_contract_settings():
    bench = Path(__file__).resolve().parent.parent / "bench.py"
    names = set(re.findall(r"SPARK_GRAFT_[A-Z_]+", bench.read_text()))
    assert names == {
        "SPARK_GRAFT_SF_DIR",
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_BENCH_PASSES",
    }


def test_session_keeps_spark_default_aqe_coalescing(spark):
    key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    assert spark.conf.get(key) == "true"
