"""The benchmark's workloads: which jobs one round runs, and their checks.

A job is one call sequence a user of the program would make, timed from the
first call until its result is collected or committed. Each workload
records, per job, the layer spans the traced run attributes time to.

- ``mr_udf_files``: the reference's own query language. Raw Python
  map/reduce functions over whole text files through
  ``Engine.map_reduce_files``; one job per round commits through
  ``Engine.save_text_kv`` (the reference's ``mr-out`` sink).
- ``query_mix_small``: named registry queries over fixture-shaped tables at
  scale factor 0.01, one per operator module, where per-query fixed costs
  (planning, job and task launch, Python-worker start) dominate.

Each workload names its warm-up rounds and the length of one warm round at
the seed commit (4 cores); the measured loop runs a fixed number of whole
rounds, ``--seconds`` divided by that length but at least ``MIN_ROUNDS``, so
every run of a workload does the same work.
"""

from __future__ import annotations

import glob
import os

from spans import Tracer

# (registry name, module the time is attributed to): five operator modules,
# including the Arrow Python-worker path (multimodal). Heavier or more
# queries would not fit the warm-up and enough measured rounds in one run's
# time budget.
MIX_QUERIES = [
    ("wc", "text"),
    ("kv_final_state", "kv"),
    ("q1_pricing_summary", "relational"),
    ("dedup_exact", "dedup"),
    ("multimodal_features", "multimodal"),
]
MIX_SF = 0.01

MR_JOBS = ["wc", "indexer", "wc_sink"]
MIN_ROUNDS = 2


class MrUdfFiles:
    """Raw-UDF MapReduce jobs over the seeded text corpus."""

    jobs = MR_JOBS
    warmup_rounds = 1
    round_seconds = 4.5

    def __init__(self, spark, corpus: dict, out_dir: str, tracer: Tracer):
        from mapreduce_simple_go_spark.engine import Engine

        self.engine = Engine(spark)
        self.corpus = corpus
        self.out_dir = out_dir
        self.tracer = tracer
        self._n = 0
        # (key, value) pairs the map functions emit in traced rounds; the
        # shuffle's own record count is of pickled batches, not pairs
        self.map_emissions = spark.sparkContext.accumulator(0)

    def _build(self, job: str):
        from mapreduce_simple_go_spark.operators import mapreduce as mr

        mapf, reducef = (
            (mr.indexer_map, mr.indexer_reduce) if job == "indexer" else (mr.wc_map, mr.wc_reduce)
        )
        if self.tracer.enabled:
            mapf = _counted(mapf, self.map_emissions)
        with self.tracer.span("engine.map_reduce_files.build"):
            return self.engine.map_reduce_files(self.corpus["glob"], mapf, reducef)

    def run(self, job: str):
        df = self._build(job)
        if job == "wc_sink":
            self._n += 1
            path = os.path.join(self.out_dir, f"mr-out-{self._n}")
            with self.tracer.span("engine.save_text_kv"):
                self.engine.save_text_kv(df, path)
            return path
        with self.tracer.span("engine.map_reduce_files.collect"):
            return df.collect()

    def check(self, job: str, output) -> str | None:
        """None when the output is right, else a one-line reason."""
        expected = self.corpus["indexer" if job == "indexer" else "wc"]
        if job == "wc_sink":
            got = {}
            for part in glob.glob(os.path.join(output, "part-*")):
                with open(part, encoding="utf-8") as f:
                    for line in f:
                        k, _, v = line.rstrip("\n").partition(" ")
                        if k in got:
                            return f"key {k!r} written twice"
                        got[k] = v
            if not os.path.exists(os.path.join(output, "_SUCCESS")):
                return "sink output not committed"
        else:
            got = {r[0]: r[1] for r in output}
            if len(got) != len(output):
                return "duplicate keys in output"
        if got != expected:
            diff = sorted(set(got.items()) ^ set(expected.items()))[:3]
            return f"{len(got)} keys vs {len(expected)} expected; first differences {diff}"
        return None


def _counted(mapf, counter):
    def counted_map(key, value):
        out = mapf(key, value)
        counter.add(len(out))
        return out

    return counted_map


class QueryMix:
    """Named registry queries, collected to the driver, checked by DuckDB."""

    jobs = [q for q, _ in MIX_QUERIES]
    # the JIT settles each query's generated code over the first rounds
    warmup_rounds = 3
    round_seconds = 2.0
    module = dict(MIX_QUERIES)

    def __init__(self, spark, sf_dir: str, tracer: Tracer):
        from mapreduce_simple_go_spark.operators import all_queries

        self.spark = spark
        self.sf_dir = sf_dir
        self.registry = all_queries()
        self.tracer = tracer
        self._oracle: dict[str, tuple] = {}

    def run(self, job: str):
        mod = self.module[job]
        with self.tracer.span(f"{mod}.build"):
            df = self.registry[job](self.spark, self.sf_dir)
        with self.tracer.span(f"{mod}.collect"):
            rows = df.collect()
        return df.columns, rows

    def _oracle_digest(self, job: str) -> tuple:
        if job not in self._oracle:
            import duckdb

            from mapreduce_simple_go_spark.operators import all_oracles
            from tests.conftest import TABLES, rows_digest

            con = duckdb.connect()
            try:
                for t in TABLES:
                    path = os.path.join(self.sf_dir, f"{t}.parquet")
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
                cur = con.execute(all_oracles()[job])
                cols = [d[0] for d in cur.description]
                self._oracle[job] = (sorted(cols), rows_digest(cols, cur.fetchall()))
            finally:
                con.close()
        return self._oracle[job]

    def check(self, job: str, output) -> str | None:
        from tests.conftest import rows_digest

        cols, rows = output
        want_cols, want = self._oracle_digest(job)
        if sorted(cols) != want_cols:
            return f"columns {sorted(cols)} vs oracle {want_cols}"
        got = rows_digest(cols, rows)
        if got != want:
            return f"{got[0]} rows vs oracle {want[0]}, digest differs"
        return None
