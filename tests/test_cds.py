"""The driver JVM's class-data-sharing archive (``_cds.py``).

The option logic is one pure function, checked here case by case. The
subprocess tests start real drivers on a private ``XDG_CACHE_HOME``: a
bad archive at the key's path only loses the speed-up, and concurrent
first starts, one of them SIGKILLed the way perfbench ends its probes,
leave exactly one verified archive behind.
"""

from __future__ import annotations

import os
import re
import signal
import subprocess
import sys
import time

import pytest
from pyspark.find_spark_home import _find_spark_home

from mapreduce_simple_go_spark import _cds

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOCAL = "local[2,4]"
TEMPLATES = ["spark-defaults.conf.template", "log4j2.properties.template"]


def _opts(master=LOCAL, conf=None, env=None, conf_files=TEMPLATES, archive=None):
    return _cds.java_options(master, conf or {}, env or {}, conf_files, archive, "/c/k-1.tmp")


def test_non_local_master_gets_no_option():
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443"):
        assert _opts(master=master) is None
        assert _opts(master=master, archive="/c/k.jsa") is None
    for master in ("local", "local[4]", "local[*,4]", "local-cluster[2,1,1024]"):
        assert _opts(master=master) is not None


def test_dump_without_archive_and_map_with_one():
    assert _opts() == f"-XX:ArchiveClassesAtExit=/c/k-1.tmp {_cds.QUIET}"
    assert _opts(archive="/c/k.jsa") == f"-XX:SharedArchiveFile=/c/k.jsa {_cds.QUIET}"


def test_caller_java_options_are_kept_and_the_archive_appended():
    conf = {"spark.driver.extraJavaOptions": "-Dfoo=1 -XX:+UseG1GC"}
    assert _opts(conf=conf, archive="/c/k.jsa") == (
        f"-Dfoo=1 -XX:+UseG1GC -XX:SharedArchiveFile=/c/k.jsa {_cds.QUIET}"
    )


@pytest.mark.parametrize("given", [
    "-Xshare:off", "-Xshare:auto -Dx=1", "-XX:SharedArchiveFile=/mine.jsa",
    "-XX:ArchiveClassesAtExit=/mine.jsa",
])
def test_a_callers_own_cds_choice_stands(given):
    """The opt-out: no engine option beside a caller's CDS option, whether
    it comes in the conf or in the JVM's option variables."""
    assert _opts(conf={"spark.driver.extraJavaOptions": given}) is None
    assert _opts(env={"JAVA_TOOL_OPTIONS": given}, archive="/c/k.jsa") is None
    assert _opts(env={"JDK_JAVA_OPTIONS": given}) is None


def test_a_real_conf_file_or_extra_classpath_means_no_archive():
    assert _opts(conf_files=[]) is not None
    assert _opts(conf_files=[*TEMPLATES, "spark-defaults.conf"]) is None
    assert _opts(conf_files=["log4j2.properties"], archive="/c/k.jsa") is None
    assert _opts(conf={"spark.driver.extraClassPath": "/x.jar"}) is None
    for var in _cds.CLASSPATH_ENV:
        assert _opts(env={var: "/etc/hadoop"}) is None
        assert _opts(env={var: ""}) is not None


# -- real drivers ------------------------------------------------------------

DRIVER = r"""
import os, re, sys, time
from mapreduce_simple_go_spark.session import get_spark

def square(x):
    return x * x

s = get_spark(app_name="cds-test", shuffle_partitions=2)
sc = s.sparkContext
jvm_sum = s.range(1000).selectExpr("sum(id) AS s").collect()[0].s
py_sum = sc.parallelize(range(8), 2).map(square).sum()
pid = sc._gateway.proc.pid
with open(f"/proc/{pid}/maps") as f:
    maps = f.read()
opts = s.conf.get("spark.driver.extraJavaOptions", "")
archive = re.search(r"SharedArchiveFile=(\S+)", opts)
mapped = bool(archive) and archive.group(1) in maps
print("RESULT", jvm_sum, py_sum, pid, mapped, opts, flush=True)
if sys.argv[1] == "hold":
    time.sleep(600)
gateway, proc = sc._gateway, sc._gateway.proc
s.stop()
gateway.shutdown()
proc.stdin.close()  # the JVM exits (and dumps) on EOF of its stdin
proc.wait(timeout=120)
"""


def _env(cache) -> dict[str, str]:
    path = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    return dict(os.environ, XDG_CACHE_HOME=str(cache), SPARK_GRAFT_DRIVER_MEM="1g",
                SPARK_GRAFT_CPUS="2", PYTHONPATH=path)


def _start(cache, mode: str = "exit") -> subprocess.Popen:
    # cwd: a JVM that crashes writes its hs_err_pid*.log there
    return subprocess.Popen(
        [sys.executable, "-c", DRIVER, mode], cwd=cache, env=_env(cache), text=True,
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, start_new_session=True,
    )


def _result(line: str) -> tuple[int, bool, str]:
    """(JVM pid, archive mapped, java options) of a driver that got the
    right answers from one JVM job and one Python job."""
    _, jvm_sum, py_sum, pid, mapped, *opts = line.split()
    assert (int(jvm_sum), int(py_sum)) == (499500, 140)
    return int(pid), mapped == "True", " ".join(opts)


def _finish(proc: subprocess.Popen) -> tuple[str, tuple[int, bool, str]]:
    """(the driver's other stdout, its result)."""
    out, _ = proc.communicate(timeout=300)
    assert proc.returncode == 0, out
    [line] = [ln for ln in out.splitlines() if ln.startswith("RESULT ")]
    return out.replace(line, ""), _result(line)


def _layout(cache) -> tuple[str, str, str, str]:
    """(cache dir, key, launcher classpath, java) as a driver sees them."""
    env = _env(cache)
    root = _cds.cache_dir(env)
    jars = os.path.join(_find_spark_home(), "jars")
    classpath = _cds.launcher_classpath(jars, os.path.join(root, "conf"))
    java = _cds._java(env)
    return root, _cds.archive_key(java, jars, classpath), classpath, java


def _dump(java: str, classpath: str, path: str) -> bytes:
    """A real dynamic archive of a small Hadoop main's classes, dumped on
    ``classpath``; returns its bytes."""
    subprocess.run(
        [java, f"-XX:ArchiveClassesAtExit={path}", _cds.QUIET, "-cp", classpath,
         "org.apache.hadoop.util.VersionInfo"],
        check=True, capture_output=True, timeout=120,
    )
    with open(path, "rb") as f:
        data = f.read()
    assert data[:4] == bytes.fromhex("a8ab0bf0")  # a dynamic archive's magic
    return data


CDS_WARNING = re.compile(r"\]\[cds|shared archive|class paths mismatch|CDS", re.I)


@pytest.mark.parametrize("bad", ["garbage", "zero_header", "other_jar_list", "truncated"])
def test_a_bad_archive_costs_only_the_speedup(tmp_path, bad):
    root, key, classpath, java = _layout(tmp_path)
    os.makedirs(os.path.join(root, "conf"))
    archive = os.path.join(root, key + ".jsa")
    if bad == "garbage":
        with open(archive, "wb") as f:
            f.write(os.urandom(1 << 20))
    elif bad == "zero_header":
        with open(archive, "wb") as f:
            f.write(bytes(1 << 20))
    elif bad == "other_jar_list":  # dumped on ``jars/*`` alone
        _dump(java, os.path.join(_find_spark_home(), "jars", "*"), archive)
    else:  # damaged after it was published: the JVM mapping it dies
        data = _dump(java, classpath, archive)
        os.chmod(archive, 0o644)
        with open(archive, "wb") as f:
            f.write(data[: len(data) // 2])
    out, (_, mapped, opts) = _finish(_start(tmp_path))
    assert not mapped
    if bad == "truncated":
        assert "SharedArchiveFile" not in opts and not os.path.exists(archive)
    else:
        assert f"-XX:SharedArchiveFile={archive}" in opts
        assert not CDS_WARNING.search(out), out


def _alive(pid: int) -> bool:
    return _cds._proc_start(pid) is not None


@pytest.mark.slow
def test_concurrent_first_starts_publish_one_verified_archive(tmp_path):
    """Three drivers start together on an empty cache: two exit and dump,
    the third's process group is SIGKILLed once it is up. The next start
    publishes exactly one of the two finished dumps, maps it, and leaves
    no temporary file, no killed dumper's leftovers and no other key's
    archive behind."""
    root, key, _, _ = _layout(tmp_path)
    os.makedirs(root)
    stale = os.path.join(root, "0" * 16 + ".jsa")  # another JDK or jar list
    with open(stale, "wb") as f:
        f.write(b"old archive")
    exiting = [_start(tmp_path), _start(tmp_path)]
    held = _start(tmp_path, "hold")
    held_pid, _, held_opts = _result(next(ln for ln in held.stdout if ln.startswith("RESULT ")))
    os.killpg(held.pid, signal.SIGKILL)
    held.wait(timeout=60)
    deadline = time.monotonic() + 60
    while _alive(held_pid) and time.monotonic() < deadline:
        time.sleep(0.1)
    assert not _alive(held_pid)
    dumps = []
    for proc in exiting:
        _, (pid, mapped, opts) = _finish(proc)
        assert not mapped and "ArchiveClassesAtExit" in opts
        assert not _alive(pid)
        dumps.append(re.search(r"ArchiveClassesAtExit=(\S+)", opts).group(1))
    names = os.listdir(root)
    assert sorted(n for n in names if not n.endswith(".jvm")) == sorted(
        ["conf", os.path.basename(stale), *(os.path.basename(d) for d in dumps)]
    )
    assert len([n for n in names if n.endswith(".jvm")]) == 3
    finished = {os.stat(d).st_ino for d in dumps}

    # what a dumper killed mid-write leaves (JDK 17 writes the header last),
    # and a dump cut short after its header, both owned by dead JVMs
    killed_dump = re.search(r"ArchiveClassesAtExit=(\S+)", held_opts).group(1)
    data = open(dumps[0], "rb").read()
    with open(killed_dump, "wb") as f:
        f.write(bytes(1 << 16) + data[1 << 16:])
    cut = os.path.join(root, f"{key}-{'f' * 32}")
    with open(cut + ".tmp", "wb") as f:
        f.write(data[: len(data) // 2])
    open(f"{cut}.{held_pid}-0.jvm", "x").close()

    _, (pid, mapped, opts) = _finish(_start(tmp_path))
    archive = os.path.join(root, key + ".jsa")
    assert f"-XX:SharedArchiveFile={archive}" in opts and mapped
    assert sorted(os.listdir(root)) == sorted(["conf", key + ".jsa"])
    assert os.stat(archive).st_ino in finished


def test_settle_publishes_only_finished_dumps_of_exited_jvms(tmp_path):
    """Records name each dump's JVM: a live owner's dump is left alone, an
    exited owner's dump is published only when a JVM verifies it, and a
    dump no record names is deleted once it is old."""
    root, key, classpath, java = _layout(tmp_path)
    os.makedirs(os.path.join(root, "conf"))
    good = os.path.join(root, "good.jsa")  # a valid archive for this key's classpath
    data = _dump(java, classpath, good)
    os.unlink(good)
    dead = f"{os.getpid()}-0"  # this pid, another start time: an exited JVM
    live = f"{os.getpid()}-{_cds._proc_start(os.getpid())}"

    def dump(name, owner, body):
        with open(os.path.join(root, f"{key}-{name}.tmp"), "wb") as f:
            f.write(body)
        if owner:
            open(os.path.join(root, f"{key}-{name}.{owner}.jvm"), "x").close()

    dump("a" * 32, live, data)
    dump("b" * 32, dead, bytes(1 << 16) + data[1 << 16:])  # killed before its header
    dump("c" * 32, dead, data[: len(data) // 2])  # cut short after its header
    dump("d" * 32, None, data)  # its launcher died before the record
    other = os.path.join(root, "0" * 16 + ".jsa")
    open(other, "wb").close()
    kept = sorted(os.listdir(root))
    _cds.settle(root, key, java, classpath)
    assert sorted(os.listdir(root)) == sorted(n for n in kept if "b" * 32 not in n and "c" * 32 not in n)

    old = time.time() - 2 * _cds.ORPHAN_S
    os.utime(os.path.join(root, f"{key}-{'d' * 32}.tmp"), (old, old))
    dump("e" * 32, dead, data)
    _cds.settle(root, key, java, classpath)
    archive = os.path.join(root, key + ".jsa")
    assert open(archive, "rb").read() == data
    assert sorted(os.listdir(root)) == sorted(
        ["conf", key + ".jsa", f"{key}-{'a' * 32}.tmp", f"{key}-{'a' * 32}.{live}.jvm"]
    )
