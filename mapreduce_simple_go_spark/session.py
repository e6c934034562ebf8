"""The engine's one SparkSession factory, with scale-oriented defaults.

Tuning is hard-coded as module constants, so every operator inherits one
configuration that holds up on a real cluster. The raw-UDF MapReduce path's
R is the session's parallelism, not the reference's fixed R = 10
(mrcoordinator.go; ``n_reduce=10`` reproduces it). The constants give:

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

Python workers: on local masters (``local[...]``, ``local-cluster[...]``)
Spark's Python workers run under ``WORKER_DAEMON`` (``_pydaemon.py``). It
stops the re-read of ``pyspark.zip`` and the spark-core jar that PySpark's
per-task ``importlib.invalidate_caches()`` caused, 0.15-0.4 s per task on
a 4-core host. The package's parent directory leads the workers'
``PYTHONPATH``, so the daemon and module-level map/reduce functions import
whatever the driver's cwd. A cluster deployment that installs the package
on its executors gets the same fix by setting ``spark.python.daemon.module``
to ``WORKER_DAEMON``.

Call-site capture is off: ``spark.python.sql.dataFrameDebugging.enabled``
is ``false``. PySpark's default (``true``) wraps every ``Column`` method
and ``functions`` call: it looks up the active session, reads a conf, walks
the Python stack and makes py4j calls to set and clear the JVM-side origin,
about 5 round trips per call. With it off ``F.col`` went 1.2-1.9 -> 0.8 ms
and ``c + c`` 0.9 -> 0.16 ms (4-core host), and the registry's builders
make hundreds of such calls per query. Errors keep their error class,
SQLSTATE and message; only the Python ``file:line`` of the
``== DataFrame ==`` context is lost (a JVM frame shows instead). To get it
back, pass
``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}`` to
the first ``get_spark`` call of the process: PySpark reads the conf once,
at the first wrapped call, and keeps the answer for the process.

Driver class-data sharing (JEP 310, JEP 350; ``_cds.py``): on local
masters the driver JVM maps a dynamic CDS archive of the classes it loaded
on an earlier start, instead of loading and verifying them from Spark's
jars again. That took ``get_spark()`` plus its first jobs from ~18 to ~7 s
on a 4-core host. The archive lives in
``${XDG_CACHE_HOME:-~/.cache}/mapreduce_simple_go_spark/cds/<key>.jsa``;
``<key>`` digests the JDK build (``java``, ``lib/modules``, ``libjvm.so``,
the base ``classes.jsa``) and the launcher's classpath with every jar's
name, size and mtime, read from the files alone. It is not under
``TMPDIR`` or ``SPARK_GRAFT_SCRATCH_DIR``: perfbench's ``TMPDIR`` is
``.perfbench/tmp``, deleted on every run, and the scratch root may be a
URI, which a JVM cannot map. With no archive for the key, the JVM dumps
one when it exits (``-XX:ArchiveClassesAtExit``): once per JDK and
classpath, that exit takes ~10-14 s longer and writes ~140 MB. A later
launch publishes the dump with an atomic rename, only once its JVM has
exited and a JVM has verified it, and deletes other keys' archives. JDK 17
will not dump with a non-empty directory on the classpath, and the
launcher puts ``$SPARK_CONF_DIR`` there, so the driver starts with an
empty conf dir from the cache, only when the real one holds nothing but
``*.template`` files. A real file there (``spark-defaults.conf``, ...),
any other classpath entry (``spark.driver.extraClassPath``,
``HADOOP_CONF_DIR``, ...), or a caller's ``spark.driver.extraJavaOptions``
naming ``-Xshare`` or an archive means no archive: the launch is
unchanged. A caller's other ``extraJavaOptions`` are kept, the archive
option appended. A missing, corrupt or mismatched archive costs only the
speed-up; if the driver JVM dies mapping a damaged one, ``get_spark``
deletes it and launches the driver again without it. Deleting the
directory resets it; the next start dumps again.

Only deployment settings come from the environment: ``SPARK_GRAFT_CPUS``
(``local[$SPARK_GRAFT_CPUS,4]``, default ``*``), ``SPARK_GRAFT_DRIVER_MEM``
and ``SPARK_GRAFT_WAREHOUSE``. Nothing in here assumes single-node.

:func:`scoped_confs` is the one way an operator overrides a runtime conf
for part of its work: the streaming drain and the connected-components
probe both restore the session as they found it.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

from ._cds import get_or_create, is_local

DEFAULT_SHUFFLE_PARTITIONS = 32
TASK_MAX_FAILURES = 4
WORKER_DAEMON = "mapreduce_simple_go_spark._pydaemon"
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if is_local(master):
        paths = [_PACKAGE_PARENT, *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
        builder = builder.config("spark.python.daemon.module", WORKER_DAEMON).config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(dict.fromkeys(p for p in paths if p)),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return get_or_create(builder, master, extra_conf or {})


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on the session for the with-body, then restore each
    key's prior value (unset again if it had none).

    NOT thread-safe: it mutates SESSION conf, so concurrent queries sharing
    the session would race on it. Registry entries run sequentially (the
    driver gate, bench and perfbench all iterate); parallel callers need a
    session of their own (``spark.newSession()``).
    """
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
