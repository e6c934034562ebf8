"""The engine's one SparkSession factory, with scale-oriented defaults.

The reference engine hard-codes its parallelism (M = number of input files,
R = 10 reduce tasks, in the reference's mrcoordinator.go). Tuning here is
hard-coded the same way, as module constants, so every operator inherits
one configuration that holds up on a real cluster:

- AQE on (runtime coalescing of shuffle partitions + skew-join splitting),
- Arrow for any pandas exchange,
- parquet filter pushdown + vectorized reader,
- a broadcast threshold large enough that TPC-H-style dimension tables
  (region/nation/supplier/part at any sane SF) broadcast instead of shuffling.

Retry policy: a task gets up to ``TASK_MAX_FAILURES`` (4) attempts before
its job fails -- the reference coordinator's re-queue of a crashed worker's
task (coordinator.go). Spark already defaults ``spark.task.maxFailures`` to
4 on a cluster but gives ``local[N]`` one attempt, so the default local
master is ``local[N,4]``. Output stays visible exactly once: only the
successful attempt's result is returned and only its files are committed.

Only deployment settings come from the environment: ``SPARK_GRAFT_CPUS``
(``local[$SPARK_GRAFT_CPUS,4]``, default ``*``), ``SPARK_GRAFT_DRIVER_MEM``
and ``SPARK_GRAFT_WAREHOUSE``. Nothing in here assumes single-node.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
TASK_MAX_FAILURES = 4


def get_spark(
    app_name: str = "mapreduce-simple-go-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build the engine's SparkSession, or return the live one.

    A live session keeps its configuration: only what the caller passes
    explicitly (``shuffle_partitions``, ``extra_conf``) is set on it.
    """
    live = SparkSession.getActiveSession()
    if live is not None:
        if shuffle_partitions is not None:
            live.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        for k, v in (extra_conf or {}).items():
            live.conf.set(k, v)
        return live
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus},{TASK_MAX_FAILURES}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalescePartitions.parallelismFirst stays at Spark's default
        # (true): a 12-entry interleaved A/B of false vs true on the
        # overhead-bound queries read a wash overall, with one clear
        # regression under false (bloom_decontaminate 2.73 vs 1.88 s min;
        # advisory-size coalescing serializes its compute-bound
        # post-shuffle stage at driver SF).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # fixture events.parquet has carried TIMESTAMP(NANOS) in some
        # generations (rejected by the vectorized reader without this conf;
        # read as long and normalized in sources._normalize_ts). Harmless
        # for the current micros-NTZ fixture; kept for compatibility.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # real tracebacks when a Python worker dies on a signal (r11: a
        # worker crash inside a stateful fold surfaced as an opaque
        # "exited unexpectedly" without this; negligible overhead)
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
