"""Generic MapReduce API — the reference's exact UDF contract on Spark.

The reference's entire query language is two plugin-loaded functions
(/root/reference/src/main/mrworker.go:34-51):

    Map(filename, contents string) []KeyValue     # a UDTF: 1 row -> N rows
    Reduce(key string, values []string) string    # a whole-group UDAF

This module accepts arbitrary Python callables with the same shapes and runs
them on the RDD path — the one place raw per-group imperative logic genuinely
needs it (an opaque ``reducef`` admits no partial aggregation; the reference
has the identical limitation, its map outputs all cross the shuffle,
worker.go:92-94).

Execution mapping (SURVEY.md §3.1): wholeTextFiles -> flatMap(mapf) ->
groupByKey(R) -> map(reducef). Spark supplies the scheduler, phase
barrier, shuffle, straggler re-execution, and atomic output commit that
coordinator.go/worker.go hand-roll (E10-E15). R defaults to the session's
``defaultParallelism`` (its cores); ``n_reduce=10`` reproduces the
reference's fixed R (mrcoordinator.go:23) and its ten ``mr-out`` files.

Every *named* query also has a pure-DataFrame implementation in the sibling
modules — that is the scale path; this API is the compatibility veneer.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark import RDD
from pyspark.sql import DataFrame, SparkSession

KeyValue = tuple[str, str]
MapF = Callable[[str, str], Iterable[KeyValue]]
ReduceF = Callable[[str, list[str]], str]


# Map-side partial values per key accumulated before an in-flight combine
# collapses them — bounds combiner memory to O(distinct keys per partition)
# regardless of per-key fan-out.
_COMBINE_CHUNK = 1024


def _map_reduce_pairs(spark: SparkSession, pairs: RDD, mapf: MapF, reducef: ReduceF,
                      n_reduce: int | None, combinef: ReduceF | None) -> DataFrame:
    mapped = pairs.flatMap(lambda kv: mapf(kv[0], kv[1]))
    if combinef is not None:

        def _partition_combine(it):
            acc: dict[str, list[str]] = {}
            for k, v in it:
                bucket = acc.setdefault(k, [])
                bucket.append(v)
                if len(bucket) >= _COMBINE_CHUNK:
                    acc[k] = [combinef(k, bucket)]
            for k, vs in acc.items():
                yield (k, combinef(k, vs))

        mapped = mapped.mapPartitions(_partition_combine)
    r = n_reduce or spark.sparkContext.defaultParallelism
    out = mapped.groupByKey(r).map(lambda kv: (kv[0], reducef(kv[0], list(kv[1]))))
    return spark.createDataFrame(out, schema="key string, value string")


def map_reduce_kv(
    spark: SparkSession,
    inputs: DataFrame,
    mapf: MapF,
    reducef: ReduceF,
    n_reduce: int | None = None,
    combinef: ReduceF | None = None,
) -> DataFrame:
    """Run a MapReduce job over (key, value) input rows.

    ``inputs`` must have two string columns (any names); each row is passed
    to ``mapf`` as (key, value) — for file inputs that is (filename,
    contents), matching the reference's map contract (wc.go:14-20).
    Returns a DataFrame with columns (key, value), the reference's
    ``mr-out-*`` content (worker.go:145) as rows instead of text lines.

    ``combinef`` (opt-in, r9): a map-side combiner with the REDUCE
    signature, applied per map partition before the shuffle — the standard
    Hadoop combiner contract the reference deliberately lacks (worker.go:
    92-94 ships every map emission across the partition boundary; with no
    combiner this veneer faithfully reproduces that). Requirements, same
    as Hadoop's: ``combinef`` may run ZERO OR MORE times over ANY grouping
    of a key's values (including singletons), its output must be valid
    input to both itself and ``reducef``, and the composition must be
    associative — e.g. word count as sum-of-partials (``wc_combine``), NOT
    the reference's len-of-values ``wc_reduce``, which breaks under
    pre-aggregation. Scale effect: shuffle bytes drop from O(map
    emissions) to O(distinct keys x map partitions) — the same win the
    named DataFrame operators get for free from Catalyst's partial
    aggregation, now available to raw-UDF jobs (differentially tested:
    combiner on == combiner off == DuckDB oracle).
    """
    rows = inputs.select(*inputs.columns[:2]).rdd
    return _map_reduce_pairs(spark, rows, mapf, reducef, n_reduce, combinef)


def map_reduce_files(
    spark: SparkSession,
    path_glob: str,
    mapf: MapF,
    reducef: ReduceF,
    n_reduce: int | None = None,
) -> DataFrame:
    """Reference entry point: file glob in, (key, value) rows out.

    Mirrors ``mrcoordinator pg*.txt`` + workers (test-mr.sh:74-83). The
    ``wholeTextFiles`` (filename, contents) pairs feed the map directly, in
    about ``min(defaultParallelism, 2)`` partitions, not one per file. R
    defaults to ``defaultParallelism``; ``n_reduce=10`` is the reference's R.
    """
    pairs = spark.sparkContext.wholeTextFiles(path_glob)
    return _map_reduce_pairs(spark, pairs, mapf, reducef, n_reduce, None)


def map_reduce_sequential(
    spark: SparkSession,
    inputs: DataFrame,
    mapf: MapF,
    reducef: ReduceF,
) -> DataFrame:
    """Sequential oracle mode — the reference's mrsequential (E16).

    Identical semantics with all data in one partition (mrsequential.go:53-57
    "all intermediate data in one place"); used by tests as the golden run
    for differential comparison, exactly like test-mr.sh:66-98.
    """
    return map_reduce_kv(spark, inputs.coalesce(1), mapf, reducef, n_reduce=1)


# The reference's eight apps, as plain-Python map/reduce pairs usable with the
# API above (and as golden semantics for the DataFrame twins in text.py).

def wc_map(_filename: str, contents: str) -> list[KeyValue]:
    """wc.go:22-33 — one ("word", "1") per occurrence, split on non-letters."""
    import regex

    return [(w, "1") for w in regex.split(r"[^\p{L}]+", contents) if w]


def wc_reduce(_key: str, values: list[str]) -> str:
    """wc.go:41-44 — count of occurrences.

    NOT combiner-safe (len over pre-combined partials undercounts); the
    combiner-compatible form is :func:`wc_sum_reduce` used as both
    ``reducef`` and ``combinef``.
    """
    return str(len(values))


def wc_sum_reduce(_key: str, values: list[str]) -> str:
    """Combiner-compatible word count: values are decimal counts ("1" from
    the mapper, partial sums from any combine round); output is their sum.
    Usable as BOTH reducef and combinef — sum is associative and its
    output re-enters its own domain, the Hadoop combiner contract."""
    return str(sum(int(v) for v in values))


def indexer_map(filename: str, contents: str) -> list[KeyValue]:
    """indexer.go:20-31 — (word, doc) once per distinct word per doc."""
    import regex

    return [(w, filename) for w in set(regex.split(r"[^\p{L}]+", contents)) if w]


def indexer_reduce(_key: str, values: list[str]) -> str:
    """indexer.go:36-39 — "<ndocs> <doc1>,<doc2>,...", docs sorted."""
    docs = sorted(values)
    return f"{len(docs)} {','.join(docs)}"


def crash_map(filename: str, contents: str) -> list[KeyValue]:
    """crash.go:34-43 (minus the crash) — four scalar probes per file."""
    return [
        ("a", filename),
        ("b", str(len(filename))),
        ("c", str(len(contents.encode("utf-8")))),
        ("d", "xyzzy"),
    ]


def sorted_concat_reduce(_key: str, values: list[str]) -> str:
    """crash.go:45-55 — sort values, join with spaces (deterministic)."""
    return " ".join(sorted(values))


def count_reduce(_key: str, values: list[str]) -> str:
    """early_exit.go:32-40 — count per key."""
    return str(len(values))
