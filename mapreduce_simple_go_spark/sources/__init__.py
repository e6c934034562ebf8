"""Source connectors.

The reference's only source is the whole-file text scan
(/root/reference/src/mr/worker.go:71-81); :func:`whole_text_files` reproduces
it. The parquet fixture loaders normalize physical-type quirks (nanosecond
timestamps) so downstream operators always see proper TimestampType.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType


def whole_text_files(spark: SparkSession, path_glob: str) -> DataFrame:
    """(filename, contents) rows — the reference's map-task input contract.

    Uses the wholeTextFiles RDD source: one record per file, as the
    reference gives each of its M map tasks one file. Spark packs the
    files into about ``min(defaultParallelism, 2)`` partitions (split size =
    total bytes / that), so there are not M map tasks.
    """
    rdd = spark.sparkContext.wholeTextFiles(path_glob)
    return spark.createDataFrame(rdd, schema="filename string, contents string")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with ``ts`` normalized to TimestampType.

    Fixture generations have carried three physical forms for ``ts`` and all
    must land on plain TIMESTAMP (session TZ is UTC) so functions like
    unix_micros/window behave identically:

    - TIMESTAMP(NANOS): with the legacy nanosAsLong conf the column arrives
      as long nanoseconds; ``div`` truncates to micros exactly like readers
      that downcast ns->us (e.g. DuckDB). Float division would be wrong:
      epoch-nanos exceed double's 2^53 integer range.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as TIMESTAMP_NTZ;
      cast to TIMESTAMP interprets the wall clock in the UTC session TZ —
      the same naive-as-UTC reading DuckDB applies.
    - TIMESTAMP(MICROS, adjusted): already TimestampType.
    """
    # Self-contained under ANY session: nanosAsLong and session.timeZone are
    # runtime-settable, so set them here rather than relying on session
    # construction (session.get_spark also sets them, but callers may hand
    # us a plain SparkSession -- e.g. the external correctness harness).
    # timeZone=UTC matters for the NTZ branch of _normalize_ts: the NTZ->TS
    # cast interprets the wall clock in the session TZ, and the oracle
    # (DuckDB) reads the same values naive-as-UTC.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return _normalize_ts(ev)


def _normalize_ts(ev: DataFrame, col: str = "ts") -> DataFrame:
    t = ev.schema[col].dataType
    if isinstance(t, LongType):
        return ev.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(t, TimestampNTZType):
        return ev.withColumn(col, F.col(col).cast("timestamp"))
    return ev
