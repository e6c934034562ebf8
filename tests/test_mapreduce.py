"""Generic MapReduce API tests — the reference's own differential methodology.

test-mr.sh compares the distributed run against the sequential golden run on
sorted output (lines 66-98). Here: distributed (n_reduce=8) vs sequential
(one partition) vs the DataFrame-native twin, all on the documents fixture.
"""

from __future__ import annotations

import shutil

import pytest

from mapreduce_simple_go_spark.engine import Engine
from mapreduce_simple_go_spark.operators import mapreduce as mr
from mapreduce_simple_go_spark.operators.text import word_count, inverted_index

from .conftest import SF_DIR, jobs_started


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark)


@pytest.fixture(scope="module")
def doc_inputs(spark):
    # (doc_id-as-name, text) — the reference's (filename, contents) shape
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return docs.selectExpr("cast(doc_id as string) as filename", "text as contents")


def sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_wc_distributed_vs_sequential(engine, doc_inputs):
    dist = engine.map_reduce(doc_inputs, mr.wc_map, mr.wc_reduce, n_reduce=8)
    seq = engine.sequential(doc_inputs, mr.wc_map, mr.wc_reduce)
    assert sorted_rows(dist) == sorted_rows(seq)


def test_wc_mapreduce_vs_dataframe(engine, doc_inputs, spark):
    via_mr = sorted_rows(engine.map_reduce(doc_inputs, mr.wc_map, mr.wc_reduce))
    via_df = sorted_rows(
        word_count(spark, SF_DIR).selectExpr("word", "cast(cnt as string)")
    )
    assert via_mr == via_df


def test_indexer_mapreduce_vs_dataframe(engine, doc_inputs, spark):
    via_mr = sorted_rows(
        engine.map_reduce(doc_inputs, mr.indexer_map, mr.indexer_reduce)
    )
    via_df = sorted_rows(inverted_index(spark, SF_DIR).select("word", "posting"))
    assert via_mr == via_df


def test_crash_app_semantics(engine, doc_inputs):
    out = {
        k: v
        for k, v in engine.map_reduce(
            doc_inputs, mr.crash_map, mr.sorted_concat_reduce
        ).collect()
    }
    assert set(out) == {"a", "b", "c", "d"}
    n_docs = doc_inputs.count()
    assert out["d"] == " ".join(["xyzzy"] * n_docs)
    assert len(out["a"].split(" ")) == n_docs


def test_text_sink_roundtrip(engine, doc_inputs, spark, tmp_path):
    out = engine.map_reduce(doc_inputs, mr.wc_map, mr.wc_reduce, n_reduce=4)
    path = str(tmp_path / "mr-out")
    engine.save_text_kv(out, path)
    written = sorted(tuple(r.value.split(" ")) for r in spark.read.text(path).collect())
    assert written and all(len(kv) == 2 for kv in written)
    assert written == sorted_rows(out)


def test_engine_sql_surface(engine):
    df = engine.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS n
        FROM customer JOIN orders ON c_custkey = o_custkey
        GROUP BY c_mktsegment
        """,
        SF_DIR,
    )
    rows = df.collect()
    assert len(rows) > 0 and all(r.n > 0 for r in rows)


def test_engine_sql_reads_only_the_tables_it_names(engine, spark, tmp_path):
    """A one-table query reads only that table, and its schema is inferred
    once per file: on a fresh copy of the fixture the first call runs the
    one inference job and registers only the named view, and the same call
    again runs no job at all."""
    for name in Engine.FIXTURE_TABLES:
        shutil.copy(f"{SF_DIR}/{name}.parquet", tmp_path)
        spark.catalog.dropTempView(name)
    query = "SELECT count(*) FROM region"
    _, first = jobs_started(spark, lambda: engine.sql(query, str(tmp_path)))
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    assert views & set(Engine.FIXTURE_TABLES) == {"region"}
    assert first == 1
    _, again = jobs_started(spark, lambda: engine.sql(query, str(tmp_path)))
    assert again == 0


def test_engine_sql_matches_table_names_case_insensitively(engine, spark):
    """SQL identifiers are case-insensitive, so the table filter must be
    too: with no fixture view left over from earlier tests, an upper-case
    join must find both tables and equal the same SQL on views registered
    by hand."""
    query = """
        SELECT o_orderstatus, COUNT(*) AS n, SUM(l_quantity) AS qty
        FROM LINEITEM JOIN ORDERS ON l_orderkey = o_orderkey
        GROUP BY o_orderstatus
    """
    for name in Engine.FIXTURE_TABLES:
        spark.catalog.dropTempView(name)
    got = sorted_rows(engine.sql(query, SF_DIR))
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    assert views & set(Engine.FIXTURE_TABLES) == {"lineitem", "orders"}
    for name in ("lineitem", "orders"):
        spark.read.parquet(f"{SF_DIR}/{name}.parquet").createOrReplaceTempView(name)
    want = sorted_rows(spark.sql(query))
    assert got and got == want


def test_engine_sql_events_ts_normalized(engine):
    df = engine.sql("SELECT min(ts) AS mn FROM events", SF_DIR)
    assert str(df.schema["mn"].dataType) == "TimestampType()"


def test_native_udtf_matches_flatmap_tokenizer(spark):
    """Spark 4's native Python UDTF is the reference's Map contract
    (one row in, many out — mrworker.go:34-51) as a first-class SQL
    function: a tokenizing UDTF must produce exactly the flatMap twin's
    rows. Surface-parity demo only — the DataFrame tokenizer is the
    scale path (Arrow-free UDTFs run row-at-a-time Python)."""
    import re

    from pyspark.sql.functions import lit, udtf

    from .conftest import SF_DIR

    @udtf(returnType="word: string")
    class Tokenize:
        def eval(self, text: str):
            # [^\W\d_] is Python-re for "unicode letter" (re has no \p{L});
            # agrees with the engine's [^\p{L}]+ split on the fixture vocab
            for w in re.findall(r"[^\W\d_]+", text or "", re.UNICODE):
                yield (w,)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    docs.createOrReplaceTempView("udtf_docs")
    spark.udtf.register("tokenize_udtf", Tokenize)
    got = spark.sql(
        "SELECT t.word FROM udtf_docs, LATERAL tokenize_udtf(text) t"
    ).groupBy("word").count()

    from mapreduce_simple_go_spark.functions import tokens as tok_expr
    from pyspark.sql import functions as F

    want = (
        docs.select(F.explode(tok_expr(F.col("text"))).alias("word"))
        .groupBy("word")
        .count()
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    spark.catalog.dropTempView("udtf_docs")


def test_wc_combiner_on_equals_off_equals_oracle(engine, doc_inputs, spark, duck):
    """Opt-in map-side combiner (r9): the sum-form word count with the
    combiner ON must equal the same job with the combiner OFF, the
    reference-form job (len-reduce, no combiner), and the DuckDB oracle —
    the reference's own differential methodology (test-mr.sh:66-98)
    applied to the new knob."""
    from mapreduce_simple_go_spark.operators.text import WORD_COUNT_SQL

    on = engine.map_reduce(
        doc_inputs, mr.wc_map, mr.wc_sum_reduce, n_reduce=8,
        combinef=mr.wc_sum_reduce,
    )
    off = engine.map_reduce(doc_inputs, mr.wc_map, mr.wc_sum_reduce, n_reduce=8)
    ref_form = engine.map_reduce(doc_inputs, mr.wc_map, mr.wc_reduce, n_reduce=8)
    rows_on = sorted_rows(on)
    assert rows_on == sorted_rows(off) == sorted_rows(ref_form)
    want = sorted((w, str(c)) for w, c in duck.execute(WORD_COUNT_SQL).fetchall())
    assert rows_on == want


def test_combiner_in_flight_collapse(engine, doc_inputs, spark, duck, monkeypatch):
    """With a chunk of 2, every repeated word in a map partition goes
    through the combiner's in-flight collapse (``len(bucket) >=
    _COMBINE_CHUNK``); the result must still equal the no-combiner job and
    the DuckDB oracle. The nested combine function is pickled by value,
    globals included, so the patched chunk reaches the Python workers."""
    from mapreduce_simple_go_spark.operators.text import WORD_COUNT_SQL

    monkeypatch.setattr(mr, "_COMBINE_CHUNK", 2)
    calls = spark.sparkContext.accumulator(0)

    def counted_sum(key, values):
        calls.add(1)
        return mr.wc_sum_reduce(key, values)

    on = sorted_rows(engine.map_reduce(
        doc_inputs, mr.wc_map, mr.wc_sum_reduce, combinef=counted_sum
    ))
    off = sorted_rows(engine.map_reduce(doc_inputs, mr.wc_map, mr.wc_sum_reduce))
    want = sorted((w, str(c)) for w, c in duck.execute(WORD_COUNT_SQL).fetchall())
    assert on == off == want
    # the end-of-partition combine alone calls it at most once per key and
    # map partition; more calls mean the in-flight collapse ran
    assert calls.value > len(want) * doc_inputs.rdd.getNumPartitions()


def test_combiner_shrinks_shuffle(doc_inputs):
    """The combiner's reason to exist, measured: the record count crossing
    the shuffle drops from one-per-map-emission to at most (distinct keys
    x map partitions). Counts the exact pre-shuffle RDD the combiner path
    builds (same _partition_combine, via a public-surface replica)."""
    rdd = doc_inputs.rdd.map(lambda r: (r[0], r[1]))
    mapped = rdd.flatMap(lambda kv: mr.wc_map(kv[0], kv[1]))
    n_emissions = mapped.count()
    n_partitions = mapped.getNumPartitions()

    def _combine(it):
        acc = {}
        for k, v in it:
            acc.setdefault(k, []).append(v)
        for k, vs in acc.items():
            yield (k, mr.wc_sum_reduce(k, vs))

    n_combined = mapped.mapPartitions(_combine).count()
    n_distinct = mapped.keys().distinct().count()
    assert n_combined <= n_distinct * n_partitions
    assert n_combined < n_emissions / 5, (n_combined, n_emissions)
