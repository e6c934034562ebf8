"""The runtime package reads only deployment settings from the environment.

Tuning values are module constants, the way the reference hard-codes its
own, so tier-1 and the benchmark cover the one configuration every run
uses. The raw-UDF path's R is the exception that follows the session: it
defaults to ``defaultParallelism`` where the reference fixes R = 10 in
mrcoordinator.go, and ``n_reduce=10`` reproduces the reference. The code and its docs cite
only repository files that exist, and no section of a guide outside it.
The session turns off PySpark's per-call call-site capture, and the raw-UDF
surface imports nothing only the registry needs.
"""

from __future__ import annotations

import re
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.errors import AnalysisException, ArithmeticException
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

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


def test_call_site_capture_is_off_and_errors_keep_their_class(spark):
    """The session turns off PySpark's per-call Python call-site capture.
    Errors still carry their error class; only the Python file:line of the
    DataFrame context is gone."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    # PySpark reads the conf once per process, at the first wrapped call
    assert not is_debugging_enabled()
    df = spark.range(3)
    with pytest.raises(AnalysisException) as exc:
        df.select(F.col("nope")).collect()
    assert exc.value.getCondition() == "UNRESOLVED_COLUMN.WITH_SUGGESTION"
    with pytest.raises(ArithmeticException) as exc:
        df.select(F.col("id") / F.lit(0)).collect()
    assert exc.value.getCondition() == "DIVIDE_BY_ZERO"


REPO = Path(__file__).resolve().parent.parent


def test_raw_udf_surface_imports_no_registry_dependencies():
    """A Python worker unpickling ``mapreduce.wc_map`` imports the operators
    package; it, and the Engine facade, must not pull in what only the
    registry's modules use."""
    heavy = ("pandas", "pyarrow", "google.protobuf")
    code = (
        "import sys\n"
        "import mapreduce_simple_go_spark.engine\n"
        "import mapreduce_simple_go_spark.operators.mapreduce\n"
        f"print(sorted(m for m in {heavy!r} if m in sys.modules))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]"


CITING = ["mapreduce_simple_go_spark", "scripts", "tests", "README.md", "bench.py", ".claude"]
# Root-document-style names (upper-case stem, optional round suffix) and
# plan-dump paths; a citation of either must resolve to a file in the tree.
DOC_NAME = re.compile(
    r"\b[A-Z][A-Z0-9_]*(?:_r[0-9]+)?\.(?:md|json|txt)\b|plans/r[0-9]+\S*"
)
# Script citations; each must name a file under scripts/ exactly.
SCRIPT_PATH = re.compile(r"\bscripts/[\w.-]+\.(?:py|sh)\b")
# Section citations of an optimization guide the repository does not hold
# (spelled with an escape so this file does not match itself).
GUIDE_SECTION = re.compile(r"\bguide \u00a7")


def _citing_texts():
    for entry in CITING:
        top = REPO / entry
        for path in [top] if top.is_file() else sorted(top.rglob("*")):
            if not path.is_file() or "__pycache__" in path.parts or path.suffix == ".zip":
                continue
            try:
                yield path, path.read_text()
            except UnicodeDecodeError:
                continue


def test_cited_documents_exist():
    texts = list(_citing_texts())
    basenames = {path.name for path, _ in texts}
    cited = {
        (path.relative_to(REPO).as_posix(), m.group(0).rstrip(".,:;)'\"`"))
        for path, text in texts
        for m in DOC_NAME.finditer(text)
    }
    assert cited
    missing = sorted(
        (where, name)
        for where, name in cited
        if not (REPO / name).exists() and name not in basenames
    )
    assert missing == []
    scripts = {
        (path.relative_to(REPO).as_posix(), m.group(0))
        for path, text in texts
        for m in SCRIPT_PATH.finditer(text)
    }
    assert scripts
    assert sorted((where, name) for where, name in scripts if not (REPO / name).is_file()) == []
    guide_citations = sorted(
        path.relative_to(REPO).as_posix() for path, text in texts if GUIDE_SECTION.search(text)
    )
    assert guide_citations == []
