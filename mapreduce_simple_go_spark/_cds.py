"""The driver JVM's class-data-sharing archive (JEP 310, JEP 350).

``session.get_spark`` launches the driver through :func:`get_or_create`;
the session module's docstring gives the policy. This module keeps the
cache directory: one published archive per key, ``<key>.jsa``, plus
per-launch files that exist only until a later launch settles them:

- ``<key>-<id>.tmp``: where a JVM started without an archive dumps one
  when it exits (``-XX:ArchiveClassesAtExit``);
- ``<key>-<id>.<pid>-<start>.jvm``: an empty file naming that JVM by
  process id and start time, created once the JVM runs.

A launch first settles the directory: for each ``.jvm`` record whose JVM
is gone, it publishes the dump with a rename if the key has no archive
and a JVM accepts it with every checksum verified, and deletes the rest.
JDK 17 writes an archive's header after all of its regions, so a dump cut
short leaves a zero header, which the check rejects.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import subprocess
import time
import uuid
from collections.abc import Mapping

# options that already choose the JVM's archive: the caller's choice stands
CDS_OPTIONS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
# launcher inputs that add classpath entries this module does not key on
CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
# a dump's per-class "Skipping ... Signed JAR" warnings, and a rejected
# archive's warning, would otherwise go to the driver's stdout
QUIET = "-Xlog:cds*=off"
ORPHAN_S = 3600.0  # a dump no record names (its launcher died) is kept this long


def is_local(master: str) -> bool:
    return master == "local" or master.startswith(("local[", "local-cluster["))


def java_options(
    master: str,
    conf: Mapping[str, str],
    env: Mapping[str, str],
    conf_files: list[str],
    archive: str | None,
    dump_to: str,
) -> str | None:
    """The driver's ``spark.driver.extraJavaOptions`` with the archive option
    appended, or None to launch exactly as without an archive.

    ``conf`` is the caller's Spark conf, ``conf_files`` the names in the
    launcher's ``SPARK_CONF_DIR``. ``archive`` is the key's published
    archive; without one the JVM dumps to ``dump_to`` when it exits.
    """
    if not is_local(master):
        return None
    caller = conf.get("spark.driver.extraJavaOptions", "")
    given = " ".join((caller, env.get("JAVA_TOOL_OPTIONS", ""), env.get("JDK_JAVA_OPTIONS", "")))
    if any(o in given for o in CDS_OPTIONS):
        return None
    if "spark.driver.extraClassPath" in conf or any(env.get(v) for v in CLASSPATH_ENV):
        return None
    # JDK 17 refuses to dump with a non-empty directory on the classpath,
    # so the conf dir is swapped for an empty one: only if that loses nothing
    if any(not f.endswith(".template") for f in conf_files):
        return None
    option = f"-XX:SharedArchiveFile={archive}" if archive else f"-XX:ArchiveClassesAtExit={dump_to}"
    return " ".join(o for o in (caller, option, QUIET) if o)


def cache_dir(env: Mapping[str, str]) -> str:
    base = env.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "mapreduce_simple_go_spark", "cds")


def _java(env: Mapping[str, str]) -> str | None:
    """The ``java`` that ``bin/spark-class`` runs."""
    if env.get("JAVA_HOME"):
        return os.path.join(env["JAVA_HOME"], "bin", "java")
    return shutil.which("java")


def launcher_classpath(jars: str, conf_dir: str) -> str:
    """The driver's classpath as Spark's launcher builds it (no extra entries)."""
    slf4j = [os.path.join(jars, n) for n in os.listdir(jars) if n.startswith("slf4j-api-")]
    return os.pathsep.join((conf_dir + os.sep, *slf4j, os.path.join(jars, "*")))


def archive_key(java: str, jars: str, classpath: str) -> str:
    """Digest of the JDK build and the launcher's classpath, from files alone."""
    h = hashlib.sha256()
    java = os.path.realpath(java)
    jdk = os.path.dirname(os.path.dirname(java))
    for path in (java, *(os.path.join(jdk, "lib", p) for p in ("modules", "server/libjvm.so", "server/classes.jsa"))):
        st = os.stat(path)
        h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    h.update(f"{classpath}\n".encode())
    # directory order: the JVM expands jars/* in it, and the archive
    # records the expanded classpath
    for e in os.scandir(jars):
        if e.name.endswith((".jar", ".JAR")):
            st = e.stat()
            h.update(f"{e.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _proc_start(pid: int) -> str | None:
    """The start time of a running (not zombie) process, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            state, *rest = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return None if state in "ZX" else rest[18]


def _unlink(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.unlink(path)


def _accepted(java: str, classpath: str, path: str) -> bool:
    """Whether a JVM maps the archive at ``path``, every checksum verified.

    The small heap keeps compressed oops on, as under any driver heap below
    32 GB, so the JVM checks against the same base archive a driver uses.
    """
    cmd = [java, "-Xshare:on", "-XX:+VerifySharedSpaces", f"-XX:SharedArchiveFile={path}",
           "-Xmx64m", f"-XX:ErrorFile={os.devnull}", "-XX:-CreateCoredumpOnCrash",
           "-cp", classpath, "-version"]
    try:
        return subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                              timeout=120).returncode == 0
    except subprocess.TimeoutExpired:
        return False


def settle(root: str, key: str, java: str, classpath: str) -> None:
    """Publish a finished dump of ``key`` and delete what no JVM will use.

    A dump is published only when the JVM that wrote it has exited and a
    JVM accepts it; publishing deletes every other key's archive.
    """
    archive = os.path.join(root, key + ".jsa")
    published = False
    names = os.listdir(root)
    for name in names:
        stem, ext = os.path.splitext(name)
        if ext != ".jvm":
            continue
        token, owner = stem.split(".")
        pid, start = owner.split("-")
        if _proc_start(int(pid)) == start:
            continue
        dump = os.path.join(root, token + ".tmp")
        if token.startswith(key + "-") and not os.path.exists(archive) and os.path.exists(dump) \
                and _accepted(java, classpath, dump):
            with contextlib.suppress(FileNotFoundError):  # a concurrent launch published it
                os.replace(dump, archive)
                published = True
        _unlink(dump)
        _unlink(os.path.join(root, name))
    recorded = {n.split(".")[0] for n in names if n.endswith(".jvm")}
    now = time.time()
    for name in names:
        path = os.path.join(root, name)
        stem, ext = os.path.splitext(name)
        with contextlib.suppress(FileNotFoundError):
            if ext == ".tmp" and stem not in recorded and now - os.stat(path).st_mtime > ORPHAN_S:
                os.unlink(path)
            elif ext == ".jsa" and published and path != archive:
                os.unlink(path)


def get_or_create(builder, master: str, conf: Mapping[str, str]):
    """``builder.getOrCreate()``, its driver JVM launched with the archive
    option when one applies.

    Only a launch that starts a JVM uses the archive, and any failure to
    read or write the cache directory launches unchanged. A JVM that dies
    before Spark starts while mapping the archive (one damaged after it was
    published, say) costs the archive: it is deleted, the driver launched
    again without it, and a later start dumps a new one.
    """
    from pyspark import SparkContext
    from pyspark.errors import PySparkRuntimeError
    from pyspark.find_spark_home import _find_spark_home

    env = os.environ
    plan = None
    if is_local(master) and SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in env:
        with contextlib.suppress(OSError, ValueError):
            plan = _plan(master, conf, env, _find_spark_home())
    if plan is None:
        return builder.getOrCreate()
    options, empty_conf, archive, token = plan
    saved = env.get("SPARK_CONF_DIR")
    env["SPARK_CONF_DIR"] = empty_conf
    try:
        return builder.config("spark.driver.extraJavaOptions", options).getOrCreate()
    except PySparkRuntimeError as e:
        if token is not None or SparkContext._gateway is not None \
                or e.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        _unlink(archive)
    finally:
        if saved is None:
            del env["SPARK_CONF_DIR"]
        else:
            env["SPARK_CONF_DIR"] = saved
        # also when the session failed after its JVM started: that JVM dumps too
        if token is not None and SparkContext._gateway is not None:
            pid = SparkContext._gateway.proc.pid
            with contextlib.suppress(OSError):
                open(f"{token}.{pid}-{_proc_start(pid)}.jvm", "x").close()
    caller = conf.get("spark.driver.extraJavaOptions", "")
    return builder.config("spark.driver.extraJavaOptions", caller).getOrCreate()


def _plan(master: str, conf: Mapping[str, str], env: Mapping[str, str], spark_home: str):
    """(options, empty conf dir, archive, dump token or None), or None for no archive."""
    java = _java(env)
    jars = os.path.join(spark_home, "jars")
    conf_dir = env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    conf_files = os.listdir(conf_dir) if os.path.isdir(conf_dir) else []
    if java is None or not os.path.isdir(jars) or not os.path.isdir("/proc/self") \
            or java_options(master, conf, env, conf_files, None, "") is None:
        return None
    root = cache_dir(env)
    empty_conf = os.path.join(root, "conf")
    os.makedirs(empty_conf, exist_ok=True)
    if os.listdir(empty_conf):
        return None
    classpath = launcher_classpath(jars, empty_conf)
    key = archive_key(java, jars, classpath)
    settle(root, key, java, classpath)
    archive = os.path.join(root, key + ".jsa")
    token = os.path.join(root, f"{key}-{uuid.uuid4().hex}")
    if os.path.exists(archive):
        return java_options(master, conf, env, conf_files, archive, ""), empty_conf, archive, None
    return java_options(master, conf, env, conf_files, None, token + ".tmp"), empty_conf, archive, token
