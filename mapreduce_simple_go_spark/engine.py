"""Engine facade — the single entry object a user of the reference would
pick up when switching to this repo.

The reference exposes: a distributed MapReduce runner (coordinator+workers),
a sequential oracle runner, and eight app queries. ``Engine`` exposes the
same surface plus the DataFrame-native operators:

    eng = Engine()                          # or Engine(spark)
    eng.map_reduce(df, mapf, reducef)       # raw UDF contract (RDD path)
    eng.map_reduce_files("data/*.txt", mapf, reducef)
    eng.sequential(df, mapf, reducef)       # golden-oracle mode (E16)
    eng.query("wc", sf_dir)                 # any named operator
    eng.queries()                           # name -> callable registry
    eng.save_text_kv(df, path)              # reference "k v" line sink
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fsutil
from .operators import all_queries
from .operators.mapreduce import (
    MapF,
    ReduceF,
    map_reduce_files,
    map_reduce_kv,
    map_reduce_sequential,
)
from .session import get_spark
from .sources import load_events, table


class Engine:
    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()
        # built on first use: the registry imports all nine operator
        # modules (pandas, pyarrow, protobuf), which the raw-UDF surface
        # above does not need
        self._registry: dict | None = None

    # -- reference-parity MapReduce surface --------------------------------

    def map_reduce(
        self,
        inputs: DataFrame,
        mapf: MapF,
        reducef: ReduceF,
        n_reduce: int | None = None,
        combinef: ReduceF | None = None,
    ) -> DataFrame:
        return map_reduce_kv(self.spark, inputs, mapf, reducef, n_reduce, combinef)

    def map_reduce_files(
        self,
        path_glob: str,
        mapf: MapF,
        reducef: ReduceF,
        n_reduce: int | None = None,
    ) -> DataFrame:
        return map_reduce_files(self.spark, path_glob, mapf, reducef, n_reduce)

    def sequential(self, inputs: DataFrame, mapf: MapF, reducef: ReduceF) -> DataFrame:
        return map_reduce_sequential(self.spark, inputs, mapf, reducef)

    # -- named operators ----------------------------------------------------

    def queries(self) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
        if self._registry is None:
            self._registry = all_queries()
        return dict(self._registry)

    def query(self, name: str, sf_dir: str) -> DataFrame:
        return self.queries()[name](self.spark, sf_dir)

    # -- SQL surface ---------------------------------------------------------

    FIXTURE_TABLES = (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )

    def sql(self, query: str, sf_dir: str) -> DataFrame:
        """Run ANSI SQL against the fixture tables (registered as temp views).

        The full Spark SQL dialect — the query surface the reference never
        had. ``events`` is registered with its timestamp normalized; only
        tables named in ``query`` are read, through ``sources.table``, so a
        table's schema is inferred once per file version, not per call.
        """
        for name in self.FIXTURE_TABLES:
            if not re.search(rf"\b{name}\b", query, re.I) or not fsutil.exists(
                self.spark, os.path.join(sf_dir, f"{name}.parquet")
            ):
                continue
            df = (
                load_events(self.spark, sf_dir)
                if name == "events"
                else table(self.spark, sf_dir, name)
            )
            df.createOrReplaceTempView(name)
        return self.spark.sql(query)

    # -- sinks ---------------------------------------------------------------

    def save_text_kv(self, df: DataFrame, path: str) -> None:
        """Reference output sink: "<key> <value>" text lines (worker.go:145).

        One file per partition, atomic visibility via the Hadoop commit
        protocol — the same guarantee the reference gets from tempfile +
        rename (worker.go:149-152).
        """
        cols = df.columns
        df.select(
            F.concat_ws(" ", F.col(cols[0]).cast("string"), F.col(cols[1]).cast("string"))
        ).write.mode("overwrite").text(path)

    def save_jsonl_kv(self, df: DataFrame, path: str) -> None:
        """JSON-lines KV sink — the reference's INTERMEDIATE data format
        (worker.go:82-100 writes `{"Key":...,"Value":...}` lines per
        partition), exposed as a user-facing sink. One file per partition,
        same atomic-commit visibility as the text sink.
        """
        cols = df.columns
        df.select(
            F.col(cols[0]).cast("string").alias("Key"),
            F.col(cols[1]).cast("string").alias("Value"),
        ).write.mode("overwrite").json(path)

    def load_jsonl_kv(self, path: str) -> DataFrame:
        """Read a JSON-lines KV directory back into (key, value) rows."""
        return self.spark.read.schema("Key string, Value string").json(path).select(
            F.col("Key").alias("key"), F.col("Value").alias("value")
        )

    def save_csv(self, df: DataFrame, path: str) -> None:
        """Headered CSV sink — the interchange format for tools outside the
        lake. Same per-partition files + atomic commit as the other sinks."""
        df.write.mode("overwrite").option("header", True).csv(path)

    def load_csv(self, path: str, schema: str | None = None) -> DataFrame:
        """Headered CSV source. Pass an explicit DDL ``schema`` in anything
        production-shaped: inference reads the data twice and guesses types
        per-file; an explicit schema is one pass and stable."""
        reader = self.spark.read.option("header", True)
        if schema is not None:
            return reader.schema(schema).csv(path)
        return reader.option("inferSchema", True).csv(path)
