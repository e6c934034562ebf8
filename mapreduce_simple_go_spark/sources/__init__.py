"""Source connectors.

The reference's only source is the whole-file text scan
(/root/reference/src/mr/worker.go:71-81); ``Engine.map_reduce_files`` reads
it through ``wholeTextFiles`` itself. The parquet fixture loaders normalize
physical-type quirks (nanosecond timestamps) so downstream operators always
see proper TimestampType.

:func:`table` is the package's one reader of fixture tables. A parquet read
without a schema runs a Spark job to infer one (86-91 ms warm for lineitem
at sf0.01 on a 4-core host, against 10-13 ms with the schema given), and the
registry's queries read the same few files over and over. So for a regular
file the resolver infers the schema once per
``(applicationId, realpath, st_ino, st_size, st_mtime_ns, st_ctime_ns)`` and
then reads with ``spark.read.schema(S)``. It caches the ``StructType`` only,
never data or a plan: every action still lists and scans the file, and a
file rewritten in place changes its key and is inferred again. A directory,
a URI the driver cannot ``stat`` (``file:``, ``s3a:``, ...) or a missing
path reads exactly as before, schema-less. The one reader conf that shapes
a fixture's inferred schema, ``spark.sql.legacy.parquet.nanosAsLong``, is
set by ``session.get_spark`` and again by :func:`load_events` before every
events read, so within one application the key need not carry it. The
cache is process-wide, one small entry per application and file version.

:func:`csv_writer` and :func:`csv_reader` are the package's one CSV dialect.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, DataFrameReader, DataFrameWriter, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

_SCHEMAS: dict[tuple, StructType] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Fixture table ``<sf_dir>/<name>.parquet``, its schema inferred once
    per file version (see the module docstring)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (
        spark.sparkContext.applicationId,
        os.path.realpath(path),
        st.st_ino,
        st.st_size,
        st.st_mtime_ns,
        st.st_ctime_ns,
    )
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return spark.read.schema(schema).parquet(path)


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
    _events_reader_confs(spark)
    return _normalize_ts(table(spark, sf_dir, "events"))


def _events_reader_confs(spark: SparkSession) -> None:
    """The two reader confs every events read sets first, batch or stream.

    Self-contained under ANY session: nanosAsLong and session.timeZone are
    runtime-settable, so they are set per read rather than left to session
    construction (session.get_spark also sets them, but callers may hand
    us a plain SparkSession -- e.g. the external correctness harness).
    timeZone=UTC matters for the NTZ branch of :func:`_normalize_ts`: the
    NTZ->TS cast interprets the wall clock in the session TZ, and the
    oracle (DuckDB) reads the same values naive-as-UTC.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _normalize_ts(ev: DataFrame, col: str = "ts") -> DataFrame:
    t = ev.schema[col].dataType
    if isinstance(t, LongType):
        return ev.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(t, TimestampNTZType):
        return ev.withColumn(col, F.col(col).cast("timestamp"))
    return ev


# The CSV dialect: quotes escaped by doubling (the convention DuckDB and most
# writers share), blanks around a value kept (the writer trims them by
# default), NULL written as an empty field and '' as "".
_CSV_WRITE = dict(header="true", escape='"', emptyValue='""',
                  ignoreLeadingWhiteSpace="false", ignoreTrailingWhiteSpace="false")
_CSV_READ = dict(header="true", escape='"', multiLine="true", nullValue="\0")


def csv_writer(df: DataFrame) -> DataFrameWriter:
    """``df``'s overwrite-mode writer in the package's CSV dialect."""
    return df.write.mode("overwrite").options(**_CSV_WRITE)


def csv_reader(spark: SparkSession) -> DataFrameReader:
    """A reader that gives back what :func:`csv_writer` wrote: commas,
    quotes, embedded newlines (``multiLine``), '' and NULL.

    Spark's reader puts ``nullValue`` in place of an empty unquoted field
    and ``emptyValue`` in place of a quoted one, then reads every field
    equal to ``nullValue`` as NULL. With the default "" for both, '' comes
    back as NULL (and with ``emptyValue='""'`` as the two characters
    ``""``); a one-NUL ``nullValue`` keeps them apart. The one loss left:
    a value that is exactly one NUL character reads back as NULL.
    """
    return spark.read.options(**_CSV_READ)
