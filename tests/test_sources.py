"""Source/sink coverage: whole-file scan over real text files (E1),
format round-trips (csv/json/text) — SURVEY.md §2.4 scans row — and the
fixture table resolver, which caches a file's schema and nothing else.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mapreduce_simple_go_spark.engine import Engine
from mapreduce_simple_go_spark.operators import all_oracles, all_queries
from mapreduce_simple_go_spark.operators import mapreduce as mr
from mapreduce_simple_go_spark.sources import table, whole_text_files

from .conftest import SF_DIR, TABLES, jobs_started, rows_digest


def _dump_docs_as_files(spark, tmp_path, n=20):
    """Write the first n fixture documents as real text files (pg-*.txt style)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(n).collect()
    d = tmp_path / "corpus"
    d.mkdir()
    for r in docs:
        (d / f"pg-{r.doc_id:05d}.txt").write_text(r.text)
    return str(d), {f"pg-{r.doc_id:05d}.txt": r.text for r in docs}


def test_whole_text_files_contract(spark, tmp_path):
    path, want = _dump_docs_as_files(spark, tmp_path)
    df = whole_text_files(spark, os.path.join(path, "*.txt"))
    got = {os.path.basename(r.filename): r.contents for r in df.collect()}
    assert got == want


def test_map_reduce_files_end_to_end(spark, tmp_path):
    """The reference's primary entry point on real files: mrcoordinator
    pg*.txt equivalent, checked against a pure-Python oracle."""
    from collections import Counter

    path, corpus = _dump_docs_as_files(spark, tmp_path)
    eng = Engine(spark)
    out = eng.map_reduce_files(
        os.path.join(path, "*.txt"), mr.wc_map, mr.wc_reduce, n_reduce=4
    )
    got = {r.key: int(r.value) for r in out.collect()}
    want = Counter()
    for text in corpus.values():
        for w, _ in mr.wc_map("f", text):
            want[w] += 1
    assert got == dict(want)


def _read_text_kv(path) -> dict[str, str]:
    got = {}
    for name in os.listdir(path):
        if name.startswith("part-"):
            with open(os.path.join(path, name), encoding="utf-8") as f:
                for line in f.read().splitlines():
                    k, v = line.split(" ")
                    assert k not in got, f"key {k!r} written twice"
                    got[k] = v
    return got


def test_map_reduce_files_reduce_partitions(spark, tmp_path):
    """R defaults to the session's parallelism; ``n_reduce=10`` gives the
    reference's ten mr-out files. Both commit the same key -> value map."""
    path, _ = _dump_docs_as_files(spark, tmp_path)
    glob = os.path.join(path, "*.txt")
    eng = Engine(spark)
    default = eng.map_reduce_files(glob, mr.wc_map, mr.wc_reduce)
    n = spark.sparkContext.defaultParallelism
    assert default.rdd.getNumPartitions() == n
    reference = eng.map_reduce_files(glob, mr.wc_map, mr.wc_reduce, n_reduce=10)
    sinks = []
    for name, df, parts in (("default", default, n), ("reference", reference, 10)):
        out = tmp_path / name
        eng.save_text_kv(df, str(out))
        files = os.listdir(out)
        assert len([f for f in files if f.startswith("part-")]) == parts
        assert "_SUCCESS" in files
        sinks.append(_read_text_kv(out))
    assert sinks[0] and sinks[0] == sinks[1]


def test_csv_json_text_roundtrip(spark, tmp_path):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").limit(100)
    base = orders.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )

    csv_path = str(tmp_path / "csv")
    base.write.option("header", True).csv(csv_path)
    csv_back = spark.read.option("header", True).option("inferSchema", True).csv(csv_path)
    assert sorted(map(tuple, csv_back.collect())) == sorted(map(tuple, base.collect()))

    json_path = str(tmp_path / "json")
    base.write.json(json_path)
    json_back = spark.read.json(json_path).select(*base.columns)
    assert sorted(map(tuple, json_back.collect())) == sorted(map(tuple, base.collect()))

    text_path = str(tmp_path / "text")
    base.select(
        F.concat_ws(" ", *[F.col(c).cast("string") for c in base.columns])
    ).write.text(text_path)
    assert spark.read.text(text_path).count() == base.count()


def test_engine_csv_sink_roundtrip(spark, tmp_path):
    """Engine-level CSV sink/source: explicit-schema read is lossless."""
    from mapreduce_simple_go_spark.engine import Engine

    eng = Engine(spark)
    base = spark.read.parquet(f"{SF_DIR}/orders.parquet").limit(50).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    out = str(tmp_path / "csv_engine")
    eng.save_csv(base, out)
    back = eng.load_csv(out, "o_orderkey bigint, o_orderstatus string, o_totalprice double")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, base.collect()))


def test_jsonl_kv_sink_roundtrip(spark, tmp_path):
    """The reference's JSON-lines intermediate format (worker.go:82-100) as
    a user sink: write -> read back must be lossless, including spaces and
    unicode in values (which the 'k v' text sink cannot represent)."""
    from mapreduce_simple_go_spark.engine import Engine

    eng = Engine(spark)
    df = spark.createDataFrame(
        [("a", "1"), ("b w space", "v w space"), ("ü", "héllo"), ("e", "")],
        "key string, value string",
    )
    out = str(tmp_path / "jsonl")
    eng.save_jsonl_kv(df, out)
    back = sorted(map(tuple, eng.load_jsonl_kv(out).collect()))
    assert back == sorted(map(tuple, df.collect()))


def test_json_source_corrupt_record_handling(spark, tmp_path):
    """Dirty-input contract at ingest: PERMISSIVE mode quarantines malformed
    lines into _corrupt_record (the 100 TB posture — never fail a scan for
    one bad row); FAILFAST surfaces them as errors for strict pipelines."""
    import pytest
    from py4j.protocol import Py4JJavaError

    src = tmp_path / "dirty.jsonl"
    src.write_text(
        '{"Key": "a", "Value": "1"}\n'
        "this is not json\n"
        '{"Key": "b", "Value": "2"}\n'
    )
    df = (
        spark.read.schema("Key string, Value string, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(src))
    )
    rows = df.collect()
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert sorted((r.Key, r.Value) for r in good) == [("a", "1"), ("b", "2")]
    assert len(bad) == 1 and "not json" in bad[0]._corrupt_record

    strict = (
        spark.read.schema("Key string, Value string")
        .option("mode", "FAILFAST")
        .json(str(src))
    )
    with pytest.raises(Py4JJavaError):
        strict.collect()


def test_normalize_ts_handles_all_fixture_generations(spark, tmp_path):
    """The fixture's ts physical type changed across driver rounds
    (TIMESTAMP(NANOS) -> micros-NTZ); _normalize_ts must land every form on
    plain TimestampType with identical epoch values."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    from mapreduce_simple_go_spark.sources import _normalize_ts

    epoch_us = 1_700_000_000_000_000  # deterministic instant
    cases = {
        "ntz_us": pa.table(
            {"ts": pa.array([epoch_us], type=pa.timestamp("us"))}
        ),
        "utc_us": pa.table(
            {"ts": pa.array([epoch_us], type=pa.timestamp("us", tz="UTC"))}
        ),
        "long_ns": pa.table(
            {"ts": pa.array([epoch_us * 1000], type=pa.int64())}
        ),
    }
    got = {}
    for name, tbl in cases.items():
        p = tmp_path / f"{name}.parquet"
        pq.write_table(tbl, p)
        df = _normalize_ts(spark.read.parquet(str(p)))
        assert isinstance(df.schema["ts"].dataType, TimestampType), name
        got[name] = df.selectExpr("unix_micros(ts) AS us").first().us
    assert set(got.values()) == {epoch_us}, got


def test_cli_list_and_run(spark, tmp_path):
    """python -m mapreduce_simple_go_spark: list, run, --out, bad-name paths."""
    from mapreduce_simple_go_spark.__main__ import main
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main(["list"]) == 0
    names = buf.getvalue().split()
    assert "wc" in names and len(names) >= 100

    # run by name (in-process: the CLI must NOT stop the caller's session)
    out = tmp_path / "wc.parquet"
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(
            ["run", "wc", "--sf-dir", SF_DIR, "--limit", "1", "--out", str(out)]
        )
    assert rc == 0
    assert f"wrote {out}" in buf.getvalue()
    assert spark.read.parquet(str(out)).count() > 0
    assert spark.sparkContext._jsc is not None  # session survived

    # unknown query name: exit 2 + the available names on stderr, no traceback
    err = io.StringIO()
    with contextlib.redirect_stderr(err):
        assert main(["run", "no_such_query"]) == 2
    assert "unknown query" in err.getvalue() and "wc" in err.getvalue()


def test_cli_rejects_unsupported_out_extension(spark, tmp_path):
    """A bad --out extension exits 2 before any plan is built or cached."""
    from mapreduce_simple_go_spark.__main__ import main
    import contextlib, io

    spark.catalog.clearCache()
    err = io.StringIO()
    with contextlib.redirect_stderr(err):
        rc = main(["run", "wc", "--sf-dir", SF_DIR, "--out", str(tmp_path / "x.txt")])
    assert rc == 2
    assert "unsupported --out extension: .txt" in err.getvalue()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert not (tmp_path / "x.txt").exists()


def test_table_schema_equals_a_schemaless_read(spark):
    """The resolver's schema, inferred or cached, is the one a plain read
    infers, nullability included."""
    for name in TABLES:
        want = spark.read.parquet(f"{SF_DIR}/{name}.parquet").schema
        assert table(spark, SF_DIR, name).schema == want, name
        assert table(spark, SF_DIR, name).schema == want, name


def test_table_sees_a_file_rewritten_in_place(spark, tmp_path):
    """Only the schema is cached: a file rewritten at the same path, once
    with more rows and once with one more column, is read afresh by the
    next table() and by the next query."""
    d, path = str(tmp_path), tmp_path / "region.parquet"
    src = pq.read_table(f"{SF_DIR}/region.parquet")
    pq.write_table(src, path)
    eng = Engine(spark)
    n = src.num_rows
    assert table(spark, d, "region").count() == n
    assert eng.sql("SELECT count(*) AS n FROM region", d).first().n == n
    inode = os.stat(path).st_ino

    more = pa.concat_tables([src, src])
    pq.write_table(more, path)
    assert os.stat(path).st_ino == inode
    assert table(spark, d, "region").count() == 2 * n
    assert eng.sql("SELECT count(*) AS n FROM region", d).first().n == 2 * n

    wider = more.append_column("r_extra", pa.array(range(2 * n), pa.int64()))
    pq.write_table(wider, path)
    assert os.stat(path).st_ino == inode
    got = table(spark, d, "region").select("r_extra").collect()
    assert sorted(r.r_extra for r in got) == list(range(2 * n))
    total = eng.sql("SELECT sum(r_extra) AS s FROM region", d).first().s
    assert total == sum(range(2 * n))


# perfbench's query_mix_small: one registry query per operator module
MIX = ["wc", "kv_final_state", "q1_pricing_summary", "dedup_exact", "multimodal_features"]


@pytest.mark.parametrize("name", MIX)
def test_warm_build_starts_no_spark_job(spark, duck, name):
    """With the fixture schemas resolved once, building a query is driver
    work only: no Spark job starts before its first action, and the
    result still equals the DuckDB oracle's."""
    query = all_queries()[name]
    query(spark, SF_DIR).collect()
    df, cost = jobs_started(spark, lambda: query(spark, SF_DIR))
    assert cost.jobs == 0
    cur = duck.execute(all_oracles()[name])
    cols = [c[0] for c in cur.description]
    assert sorted(df.columns) == sorted(cols)
    assert rows_digest(df.columns, df.collect()) == rows_digest(cols, cur.fetchall())
