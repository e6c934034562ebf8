"""The ``google.protobuf`` runtime behind ``stream_user_totals_tws``.

Spark 4's ``transformWithStateInPandas`` imports ``google.protobuf`` in the
Python workers that host the StatefulProcessor (through pyspark's gencode
``StateMessage_pb2``). :func:`ensure_protobuf` uses a real install when one
is importable and otherwise the package's vendored pure-Python runtime,
``_vendor/protobuf-6.32.0-pure.zip`` (see ``_vendor/README.md``). Only that
query's build calls it, so loading the registry imports no protobuf. The
workers get the zip from the processor's unpickle hook
(``streaming.user_totals_tws``), not from ``PYTHONPATH``.

pyspark 4.1.2's gencode targets protobuf 6.33.0 and the vendored runtime is
6.32.0; the wire format is the same, and protobuf's documented escape hatch
``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK`` accepts the skew.
"""

from __future__ import annotations

import importlib
import os
import sys

_VENDORED = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "_vendor", "protobuf-6.32.0-pure.zip"
)
_VERSION_FLAG = "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"
_GENCODE = "pyspark.sql.streaming.proto.StateMessage_pb2"


def _importable() -> bool:
    try:
        spec = importlib.util.find_spec("google.protobuf")
    except ModuleNotFoundError:  # no `google` package at all
        return False
    # The spark-core jar on a worker's PYTHONPATH carries google/protobuf/
    # *.proto data files, which zipimport serves as an empty namespace
    # package (origin None). Only a regular package counts.
    return spec is not None and spec.origin is not None


def ensure_protobuf() -> None:
    """Make pyspark's protobuf gencode importable in this process, or raise
    ``RuntimeError`` naming ``_vendor/README.md``. Idempotent."""
    if not _importable() and _VENDORED not in sys.path:
        sys.path.append(_VENDORED)
        # `google` may already be a namespace package (another google.*
        # distribution, or the probe above binding one); the zip's regular
        # `google` package cannot join it, so add the zip's portion to it.
        google = sys.modules.get("google")
        if google is not None and getattr(google, "__file__", None) is None:
            google.__path__.append(os.path.join(_VENDORED, "google"))
        importlib.invalidate_caches()
    os.environ.setdefault(_VERSION_FLAG, "true")
    try:
        importlib.import_module(_GENCODE)
    except ImportError as e:
        raise RuntimeError(
            f"no google.protobuf runtime satisfies {_GENCODE}: {e}. Install "
            "protobuf, or rebuild the vendored runtime as "
            "mapreduce_simple_go_spark/_vendor/README.md describes."
        ) from e
