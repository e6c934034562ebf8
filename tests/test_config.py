"""The runtime package reads only deployment settings from the environment.

Tuning values are module constants, the way the reference hard-codes its
own, so tier-1 and the benchmark cover the one configuration every run
uses. The raw-UDF path's R is the exception that follows the session: it
defaults to ``defaultParallelism`` where the reference fixes R = 10 in
mrcoordinator.go, and ``n_reduce=10`` reproduces the reference. The code and its docs cite
only repository files that exist, and no section of a guide outside it.
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


REPO = Path(__file__).resolve().parent.parent
CITING = ["mapreduce_simple_go_spark", "scripts", "tests", "README.md", "bench.py", ".claude"]
# Root-document-style names (upper-case stem, optional round suffix) and
# plan-dump paths; a citation of either must resolve to a file in the tree.
DOC_NAME = re.compile(
    r"\b[A-Z][A-Z0-9_]*(?:_r[0-9]+)?\.(?:md|json|txt)\b|plans/r[0-9]+\S*"
)
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
    guide_citations = sorted(
        path.relative_to(REPO).as_posix() for path, text in texts if GUIDE_SECTION.search(text)
    )
    assert guide_citations == []
