"""The session's Python-worker daemon and worker path.

``get_spark`` runs Spark's Python workers under
``mapreduce_simple_go_spark._pydaemon``, which keeps a zip importer's
directory across ``importlib.invalidate_caches()`` while its archive is
unchanged, and puts the package on the workers' ``PYTHONPATH``. The
in-task checks run on the shared ``spark`` fixture, the session users get.
"""

from __future__ import annotations

import os
import subprocess
import sys

from mapreduce_simple_go_spark.session import WORKER_DAEMON

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_in_task(spark, fn):
    return spark.sparkContext.parallelize([0], 1).mapPartitions(fn).collect()


def test_session_names_the_engine_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == WORKER_DAEMON
    assert REPO in conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)


def _directories_kept(_):
    import importlib
    import sys
    import zipimport

    zips = [
        imp for imp in sys.path_importer_cache.values()
        if isinstance(imp, zipimport.zipimporter)
    ]
    before = [imp._files for imp in zips]
    importlib.invalidate_caches()
    yield len(zips), sum(imp._files is files for imp, files in zip(zips, before))


def test_unchanged_archive_keeps_its_directory(spark):
    [(n_zips, kept)] = _run_in_task(spark, _directories_kept)
    assert n_zips > 0, "no zip importer in the worker: nothing was checked"
    assert kept == n_zips


def _rewritten_zip_is_seen(_):
    import importlib
    import os
    import shutil
    import sys
    import tempfile
    import uuid
    import zipfile

    tmp = tempfile.mkdtemp(prefix="pydaemon_")
    archive = os.path.join(tmp, "probe.zip")
    name = f"daemon_probe_{uuid.uuid4().hex}"

    def write(value):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")

    write("old")
    sys.path.insert(0, archive)
    try:
        first = importlib.import_module(name).VALUE
        write("rewritten, and longer")
        del sys.modules[name]
        importlib.invalidate_caches()
        second = importlib.import_module(name).VALUE
    finally:
        sys.modules.pop(name, None)
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        shutil.rmtree(tmp)
    yield first, second


def test_rewritten_archive_is_reread(spark):
    assert _run_in_task(spark, _rewritten_zip_is_seen) == [
        ("old", "rewritten, and longer")
    ]


DRIVER = """
import os, sys
from collections import Counter

sys.path.insert(0, {repo!r})
from mapreduce_simple_go_spark.engine import Engine
from mapreduce_simple_go_spark.operators import mapreduce as mr
from mapreduce_simple_go_spark.session import get_spark

texts = {{"a.txt": "the cat saw the dog", "b.txt": "a dog saw a cat, the end"}}
for name, text in texts.items():
    with open(name, "w") as f:
        f.write(text)
spark = get_spark(app_name="worker-path", shuffle_partitions=2)
try:
    assert spark.sparkContext.parallelize(range(10), 2).map(lambda x: x * x).sum() == 285
    rows = Engine(spark).map_reduce_files(
        os.path.join(os.getcwd(), "*.txt"), mr.wc_map, mr.wc_reduce
    ).collect()
    want = Counter(w for name, text in texts.items() for w, _ in mr.wc_map(name, text))
    assert {{r.key: int(r.value) for r in rows}} == dict(want), rows
finally:
    spark.stop()
print("PASS")
"""


def test_workers_find_the_package_outside_the_checkout(tmp_path):
    """A driver that finds the package through ``sys.path`` alone, run from
    a directory outside the checkout with ``PYTHONPATH`` unset: the workers
    must still import the daemon and the module-level map/reduce functions."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", DRIVER.format(repo=REPO)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=tmp_path,
        env=env,
    )
    assert proc.returncode == 0 and "PASS" in proc.stdout, proc.stderr[-3000:]
