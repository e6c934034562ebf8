"""The google.protobuf runtime behind stream_user_totals_tws (_protobuf.py).

transformWithStateInPandas workers import pyspark's protobuf gencode;
``ensure_protobuf`` serves it from a real install, else from the vendored
zip. Each check runs in a fresh interpreter: the seam mutates sys.path and
sys.modules, and an earlier test in this process may already have loaded
the runtime. Where a check is about the zip, a meta-path finder blocks any
real google.* install, so the check holds on hosts that have one.
"""

from __future__ import annotations

import hashlib
import os
import re
import subprocess
import sys
import textwrap
from pathlib import Path

from mapreduce_simple_go_spark import _protobuf

from .conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
VENDORED = _protobuf._VENDORED

# Vetoes every google.* spec whose origin lies outside ALLOWED (a prefix or
# a tuple of them).
_BLOCK_REAL_INSTALL = """
import importlib.machinery as M, sys

class _BlockRealInstall:
    def find_spec(self, name, path=None, target=None):
        if name.split(".")[0] != "google":
            return None
        spec = M.PathFinder.find_spec(name, path)
        if spec is not None and spec.origin and not spec.origin.startswith(ALLOWED):
            raise ModuleNotFoundError(f"blocked real install: {name} ({spec.origin})")
        return spec

sys.meta_path.insert(0, _BlockRealInstall())
"""


def _run(code: str, allowed: str | tuple | None = None, timeout: int = 120, **env_extra) -> str:
    """Run ``code`` in a fresh interpreter at the repo root; return stdout."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(env_extra)
    code = textwrap.dedent(code)
    if allowed is not None:
        code = f"ALLOWED = {allowed!r}\n" + _BLOCK_REAL_INSTALL + code
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=timeout,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout.strip()


def test_importable_rejects_namespace_only_package(tmp_path):
    """A bare google/protobuf directory pair (what the spark-core jar serves
    through zipimport) is not an importable runtime."""
    (tmp_path / "google" / "protobuf").mkdir(parents=True)
    out = _run(
        f"""
        import importlib.util, sys
        sys.path.insert(0, {str(tmp_path)!r})
        spec = importlib.util.find_spec("google.protobuf")
        assert spec is not None and spec.origin is None  # namespace-only
        from mapreduce_simple_go_spark._protobuf import _importable
        print(_importable())
        """
    )
    assert out == "False"


def test_vendored_zip_alone_satisfies_gencode():
    """With every real install blocked, the zip serves google.protobuf and
    pyspark's gencode round-trips a message through serialize/parse."""
    out = _run(
        """
        from mapreduce_simple_go_spark._protobuf import ensure_protobuf
        ensure_protobuf()
        import google.protobuf as gp
        from pyspark.sql.streaming.proto import StateMessage_pb2 as SM
        m = SM.StateRequest(version=3)
        m2 = SM.StateRequest()
        m2.ParseFromString(m.SerializeToString())
        assert m2.version == 3
        print(gp.__file__)
        """,
        allowed=VENDORED,
    )
    assert out.startswith(VENDORED + os.sep), out


def test_ensure_protobuf_discovers_bundle_or_reports_absence(tmp_path):
    """With every real install blocked, ensure_protobuf finds the zip (once:
    a second call leaves sys.path alone); with no zip at its path either, it
    raises RuntimeError naming the vendor README and google.protobuf stays
    unimportable."""
    out = _run(
        """
        import sys
        from mapreduce_simple_go_spark._protobuf import _VENDORED, ensure_protobuf
        ensure_protobuf()
        ensure_protobuf()
        from google.protobuf import descriptor
        print(sys.path.count(_VENDORED), descriptor.__file__)
        """,
        allowed=VENDORED,
    )
    count, path = out.split(" ", 1)
    assert count == "1" and path.startswith(VENDORED + os.sep), out

    missing = str(tmp_path / "absent.zip")
    out = _run(
        f"""
        import importlib.util
        import mapreduce_simple_go_spark._protobuf as P
        P._VENDORED = {missing!r}
        try:
            P.ensure_protobuf()
        except RuntimeError as e:
            print(e)
        try:
            found = importlib.util.find_spec("google.protobuf") is not None
        except ModuleNotFoundError:
            found = False
        print(found)
        """,
        allowed=missing,
    )
    msg, found = out.rsplit("\n", 1)
    assert "_vendor/README.md" in msg and found == "False", out


def test_vendored_zip_joins_a_host_google_namespace(tmp_path):
    """Another google.* distribution already imported as the ``google``
    namespace package (google-auth and the like) does not keep the zip out:
    its google.protobuf serves, and the host package stays importable."""
    (tmp_path / "google" / "hostpkg").mkdir(parents=True)
    (tmp_path / "google" / "hostpkg" / "__init__.py").write_text("MARK = 'host'\n")
    out = _run(
        f"""
        import sys
        sys.path.insert(0, {str(tmp_path)!r})
        import google.hostpkg
        from mapreduce_simple_go_spark._protobuf import ensure_protobuf
        ensure_protobuf()
        import google.protobuf as gp
        assert sys.modules["google.hostpkg"].MARK == "host"
        print(gp.__file__)
        """,
        allowed=(VENDORED, str(tmp_path)),
    )
    assert out.startswith(VENDORED + os.sep), out


def test_incomplete_runtime_fails_loudly_at_build(tmp_path):
    """A runtime whose google.protobuf imports but cannot serve pyspark's
    gencode makes the query's build raise RuntimeError naming the vendor
    README, before the session is touched (so ``spark=None`` suffices)."""
    gp = tmp_path / "google" / "protobuf"
    gp.mkdir(parents=True)
    (tmp_path / "google" / "__init__.py").write_text("")
    (gp / "__init__.py").write_text("__version__ = '0.0.0-test'\n")
    out = _run(
        f"""
        import mapreduce_simple_go_spark._protobuf as P
        from mapreduce_simple_go_spark.operators import all_queries
        P._VENDORED = {str(tmp_path)!r}
        try:
            all_queries()["stream_user_totals_tws"](None, "unused")
        except RuntimeError as e:
            print(e)
        """,
        allowed=str(tmp_path),
    )
    assert "_vendor/README.md" in out, out


def test_registry_load_imports_no_protobuf():
    """Only stream_user_totals_tws needs protobuf, and only when it builds:
    loading the registry (151 queries, each with an oracle) leaves it out."""
    out = _run(
        """
        import sys
        from mapreduce_simple_go_spark.operators import all_oracles, all_queries
        q, o = all_queries(), all_oracles()
        assert list(q) == list(o) and "stream_user_totals_tws" in q
        print(len(q), "google.protobuf" in sys.modules)
        """
    )
    assert out == "151 False"


def test_vendored_zip_matches_recorded_digest():
    """The zip is the one _vendor/README.md pins by sha256."""
    readme = Path(VENDORED).with_name("README.md").read_text()
    recorded = re.search(r"sha256: `([0-9a-f]{64})`", readme).group(1)
    assert hashlib.sha256(Path(VENDORED).read_bytes()).hexdigest() == recorded


def test_tws_in_fresh_process_with_session_first():
    """The workers find the runtime through the processor's unpickle hook
    alone: a fresh driver that builds its session before the query (so no
    environment export can reach the JVM) and blocks any real install
    still gets the batch GROUP BY totals."""
    out = _run(
        f"""
        from pyspark.sql import functions as F
        from mapreduce_simple_go_spark.session import get_spark
        spark = get_spark(app_name="tws-fresh", shuffle_partitions=4)
        from mapreduce_simple_go_spark.operators import all_queries
        from mapreduce_simple_go_spark.sources import load_events
        got = sorted(map(tuple, all_queries()["stream_user_totals_tws"](spark, {SF_DIR!r}).collect()))
        want = sorted(map(tuple, load_events(spark, {SF_DIR!r}).groupBy("user_id")
                          .agg(F.count("*"), F.sum("event_id")).collect()))
        spark.stop()
        print(len(got), got == want)
        """,
        allowed=VENDORED,
        timeout=300,
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_GRAFT_CPUS="2",
    )
    n, same = out.splitlines()[-1].split()
    assert int(n) > 0 and same == "True", out
