"""Opportunistic discovery of a usable ``google.protobuf`` runtime.

Spark 4's ``transformWithStateInPandas`` imports ``google.protobuf`` inside
the Python workers that host the StatefulProcessor (via
``pyspark.sql.streaming.stateful_processor_api_client`` ->
``StateMessage_pb2``). The package isn't installed in every deployment and
this container has no network for ``pip``. Two fallbacks exist: the repo's
own VENDORED pure-Python runtime (``_vendor/protobuf-6.32.0-pure.zip``,
zipimport-able, version-pinned — the deterministic path, because discovery
that depends on host tooling being installed is fragile), and pure-Python
runtimes hosts frequently carry inside other *public* tooling — the
google-cloud-sdk CLI ships one under its app-engine platform directory.

:func:`ensure_protobuf` first tries the normal import, then probes the
fallback entries in order (vendored zip first). On success it appends the bundle to
``sys.path`` and enables protobuf's own documented escape hatch for
minor-version gencode/runtime skew (``TEMPORARILY_DISABLE_PROTOBUF_
VERSION_CHECK`` — see ``google/protobuf/runtime_version.py`` upstream):
pyspark 4.1.2's checked-in gencode targets 6.33.0 while the bundled runtime
is 6.32.0; the wire format is identical across that skew and the roundtrip
is verified by tests/test_streaming.py before the operator registers.

:func:`spark_worker_env` propagates the same two settings into
``sc.environment`` so Spark-spawned Python processes resolve the runtime
even when the JVM was launched before discovery ran.

Reference analog: the Go reference declares its KV fold semantics in
``src/models/kv.go:40-54``; the tws operator is the streaming twin of that
fold, and this module exists solely so its hard dependency can be satisfied
without vendoring ~30k lines of generated-message machinery into the repo.
"""

from __future__ import annotations

import importlib
import os
import sys

# Fallback sys.path entries carrying a pure-Python google.protobuf runtime,
# probed in order ONLY after the normal import fails. First the repo's own
# vendored zip (deterministic, version-pinned — see _vendor/README.md; a
# seam that depends entirely on host tooling being installed is fragile),
# then conventional host-tooling bundle
# locations (the google-cloud-sdk CLI ships one). Entries may be a
# directory containing google/protobuf/ or a zipimport-able .zip.
_FALLBACK_DIRS = (
    os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "_vendor",
        "protobuf-6.32.0-pure.zip",
    ),
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)


def _entry_usable(entry: str) -> bool:
    """A fallback entry is usable if it's a bundle dir or a zip archive."""
    if entry.endswith(".zip"):
        return os.path.isfile(entry)
    return os.path.isdir(os.path.join(entry, "google", "protobuf"))

_VERSION_FLAG = "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"

# Set by ensure_protobuf when a fallback bundle (not a real install) is in
# use; spark_worker_env only needs to act in that case.
_active_dir: str | None = None


def _importable() -> bool:
    try:
        spec = importlib.util.find_spec("google.protobuf")
    except ModuleNotFoundError:
        # find_spec imports the parent package; a missing `google`
        # namespace raises instead of returning None
        return False
    # Spark workers carry spark-core_*.jar on PYTHONPATH, and that jar
    # ships google/protobuf/*.proto data files — zipimport serves them as
    # an EMPTY NAMESPACE package (spec.origin is None), which satisfies
    # find_spec but breaks `from google.protobuf import descriptor` with
    # "unknown location". Only a regular package (real __init__.py) counts.
    return spec is not None and spec.origin is not None


def active_fallback_dir() -> str | None:
    """The bundle directory in use, or None (real install / not found)."""
    return _active_dir


# The gencode module whose imports define the protobuf surface pyspark
# actually needs from the runtime. Probed at registration time when a
# fallback bundle is active (see _verify_gencode_surface).
_GENCODE_MODULE = "pyspark.sql.streaming.proto.StateMessage_pb2"


def _verify_gencode_surface() -> None:
    """Fail LOUDLY at registration time if pyspark's gencode needs a
    protobuf module the active fallback bundle doesn't carry.

    The vendored zip lacks the official wheel's well-known-type gencode
    (timestamp_pb2, any_pb2, ... — see _vendor/README.md "Known
    limitations"): pyspark 4.1.2's StateMessage_pb2 doesn't touch them,
    but a FUTURE pyspark whose gencode does would otherwise die with an
    opaque ImportError deep inside a streaming worker, mid-query. Importing
    the gencode module HERE (driver, registration time) executes exactly
    the import surface the workers will need — the strongest possible
    probe, automatically tracking whatever future gencode imports.

    Only runs when a fallback bundle is active: a real install is complete
    by construction and stays on the documented never-raise path.
    """
    try:
        importlib.import_module(_GENCODE_MODULE)
    except ImportError as e:
        raise RuntimeError(
            f"the active google.protobuf fallback bundle ({_active_dir}) "
            f"cannot satisfy {_GENCODE_MODULE}'s imports: {e}. The bundle "
            "lacks the official wheel's well-known-type gencode modules "
            "(timestamp_pb2, any_pb2, ... — see "
            "mapreduce_simple_go_spark/_vendor/README.md 'Known "
            "limitations'). Install the real protobuf runtime (pip install "
            "protobuf) or rebuild the vendored zip from the official PyPI "
            "wheel as the README describes."
        ) from e


def ensure_protobuf() -> bool:
    """Make ``import google.protobuf`` work in this process if possible.

    Returns True iff the import now succeeds (real install or discovered
    bundle). Idempotent; never raises on a MISSING runtime — but DOES
    raise (loudly, at registration time) if a fallback bundle activates
    and then cannot satisfy pyspark's gencode import surface, because the
    alternative is an opaque ImportError inside a streaming worker
    mid-query (see :func:`_verify_gencode_surface`).
    """
    global _active_dir
    if _importable():
        return True
    verify_errors: list[RuntimeError] = []
    for d in _FALLBACK_DIRS:
        if not _entry_usable(d):
            continue
        sys.path.append(d)
        importlib.invalidate_caches()
        if _importable():
            _active_dir = d
            # Gencode may be one minor version ahead of the bundled
            # runtime; protobuf's own escape hatch accepts the skew. Set
            # before any gencode module (StateMessage_pb2) is imported.
            prev_version_flag = os.environ.get(_VERSION_FLAG)
            os.environ.setdefault(_VERSION_FLAG, "true")
            prev_pythonpath = os.environ.get("PYTHONPATH")
            os.environ["PYTHONPATH"] = d + os.pathsep + (prev_pythonpath or "")
            try:
                _verify_gencode_surface()
            except RuntimeError as e:
                # Incomplete bundle: unwind it COMPLETELY —
                # sys.path, PYTHONPATH, _active_dir, and the partially
                # imported google.* modules — then keep probing, so a later
                # complete bundle (e.g. the host cloud-sdk runtime when the
                # vendored zip goes stale against a future pyspark) still
                # gets its chance. Raise only after every activating
                # candidate failed.
                verify_errors.append(e)
                _active_dir = None
                if prev_pythonpath is None:
                    os.environ.pop("PYTHONPATH", None)
                else:
                    os.environ["PYTHONPATH"] = prev_pythonpath
                if prev_version_flag is None:
                    os.environ.pop(_VERSION_FLAG, None)
                else:
                    os.environ[_VERSION_FLAG] = prev_version_flag
                sys.path.remove(d)
                # Purge ONLY modules loaded from the failed bundle dir —
                # host-owned google.* namespace packages (google.auth etc.
                # imported earlier by unrelated code) must survive the
                # unwind; importers hold references and would keep stale
                # module objects.
                for mod in [m for m in sys.modules if m == "google" or m.startswith("google.")]:
                    obj = sys.modules[mod]
                    locs = list(getattr(obj, "__path__", []) or [])
                    f = getattr(obj, "__file__", None)
                    if f:
                        locs.append(f)
                    if mod == "google" and not locs:
                        # bare namespace stub created by this probe
                        del sys.modules[mod]
                    elif any(os.path.abspath(p).startswith(os.path.abspath(d) + os.sep) for p in locs):
                        del sys.modules[mod]
                importlib.invalidate_caches()
                continue
            return True
        sys.path.remove(d)
        importlib.invalidate_caches()
    if verify_errors:
        raise verify_errors[-1]
    return False


def spark_worker_env(spark) -> None:
    """Propagate the discovered bundle to Spark-spawned Python processes.

    Python workers receive ``sc.environment`` on top of the JVM's own env;
    setting both here and in ``os.environ`` (ensure_protobuf) makes the
    result independent of whether the SparkSession was created before or
    after discovery. No-op when protobuf is genuinely installed.
    """
    if _active_dir is None:
        return
    env = spark.sparkContext.environment
    env[_VERSION_FLAG] = "true"
    prev = env.get("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    parts = [p for p in prev.split(os.pathsep) if p]
    if _active_dir not in parts:
        env["PYTHONPATH"] = os.pathsep.join([_active_dir, *parts])
