"""Reference-parity text queries (the reference's application suite).

These reproduce the query semantics of the eight MapReduce apps in
/root/reference/src/mrapps/ as declarative DataFrame plans:

- word count            — wc.go:22-44        -> :func:`word_count`
- inverted index        — indexer.go:20-39   -> :func:`inverted_index`
- per-file metrics      — crash.go:34-55     -> :func:`per_file_metrics`
- count-per-key         — early_exit.go:21-40-> :func:`count_per_key`

Where the reference ships every ``(word,"1")`` pair through the shuffle with
no combiner (worker.go:92-94), these plans use DataFrame aggregation and get
map-side partial aggregation for free — the single biggest scale win over the
reference design (a 100 TB word count shuffles per-partition partial counts,
not one row per word occurrence).

Each query has a DuckDB oracle (same semantics in ANSI-ish SQL) used by the
driver's differential check — the same methodology as the reference's
sequential-golden diff (test-mr.sh:66-98).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsutil
from ..functions import tokens
from ..sources import csv_reader, csv_writer, table

DUCK_TOKENS = (
    "list_filter(regexp_split_to_array({col}, '[^\\p{{L}}]+'), w -> w <> '')"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "documents")


def doc_tokens(docs: DataFrame) -> DataFrame:
    """One row per token occurrence: (doc_id, word).

    The scan only needs (doc_id, text); selecting before exploding keeps
    column pruning effective at the parquet reader.
    """
    return docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("word"))


def word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count over the corpus (reference wc app).

    groupBy().count() compiles to partial+final hash aggregation — the
    shuffle carries one row per (partition, word), not per occurrence.
    """
    return (
        doc_tokens(_docs(spark, sf_dir))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


WORD_COUNT_SQL = f"""
SELECT word, COUNT(*) AS cnt
FROM (
  SELECT unnest({DUCK_TOKENS.format(col='text')}) AS word
  FROM documents
)
GROUP BY word
"""


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index (reference indexer app): word -> sorted posting list.

    The reference dedups (word, doc) map-side with a hash set
    (indexer.go:21-25); ``.distinct()`` is the declarative equivalent and
    Catalyst plans it as a partial-dedup aggregate before the shuffle.
    Output format parity: ``"<ndocs> <doc1>,<doc2>,..."`` (indexer.go:36-39)
    split into typed columns plus the formatted string.
    """
    toks = doc_tokens(_docs(spark, sf_dir)).select(
        "word", F.col("doc_id").cast("string").alias("doc")
    )
    # collect_set dedups during partial aggregation, so one shuffle covers
    # both the reference's map-side dedup and the final grouping (a
    # distinct + groupBy formulation costs two shuffles for the same plan).
    return (
        toks.groupBy("word")
        .agg(F.sort_array(F.collect_set("doc")).alias("docs_arr"))
        .select(
            "word",
            F.size("docs_arr").cast("long").alias("n_docs"),
            F.array_join(F.col("docs_arr"), ",").alias("docs"),
        )
        .withColumn("posting", F.concat_ws(" ", F.col("n_docs"), F.col("docs")))
    )


INVERTED_INDEX_SQL = f"""
WITH t AS (
  SELECT DISTINCT word, doc
  FROM (
    SELECT unnest({DUCK_TOKENS.format(col='text')}) AS word,
           CAST(doc_id AS VARCHAR) AS doc
    FROM documents
  )
)
SELECT word,
       COUNT(*) AS n_docs,
       string_agg(doc, ',' ORDER BY doc) AS docs,
       CAST(COUNT(*) AS VARCHAR) || ' ' || string_agg(doc, ',' ORDER BY doc) AS posting
FROM t
GROUP BY word
"""


def per_file_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file scalar projection + sorted-concat aggregate (crash/nocrash apps).

    Map side emits four KV rows per document — ("a", doc_id), ("b",
    len(doc_id)), ("c", byte-len(text)), ("d", "xyzzy") (crash.go:34-43);
    reduce sorts values and joins with spaces (crash.go:45-55). The
    ``sort_array`` is what makes the result deterministic under any
    partitioning — same trick the reference apps use.
    """
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc"),
        F.octet_length("text").alias("blen"),
    )
    kv = docs.select(
        F.expr(
            "stack(4, 'a', doc, 'b', cast(length(doc) as string), "
            "'c', cast(blen as string), 'd', 'xyzzy') as (key, value)"
        )
    )
    return kv.groupBy("key").agg(
        F.array_join(F.sort_array(F.collect_list("value")), " ").alias("merged")
    )


PER_FILE_METRICS_SQL = """
WITH kv AS (
  SELECT 'a' AS key, CAST(doc_id AS VARCHAR) AS value FROM documents
  UNION ALL
  SELECT 'b', CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR) FROM documents
  UNION ALL
  SELECT 'c', CAST(strlen(text) AS VARCHAR) FROM documents
  UNION ALL
  SELECT 'd', 'xyzzy' FROM documents
)
SELECT key, string_agg(value, ' ' ORDER BY value) AS merged
FROM kv
GROUP BY key
"""


def count_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-per-key (early_exit app semantics: group by input name, count).

    Grouped on ``source`` (the fixture's many-docs-per-key column) so the
    aggregation actually reduces; on doc_id every count would be 1.
    """
    return (
        _docs(spark, sf_dir)
        .groupBy(F.col("source").alias("key"))
        .agg(F.count("*").alias("cnt"))
    )


COUNT_PER_KEY_SQL = """
SELECT source AS key, COUNT(*) AS cnt FROM documents GROUP BY source
"""


QUERIES = {
    "wc": word_count,
    "inverted_index": inverted_index,
    "per_file_metrics": per_file_metrics,
    "count_per_key": count_per_key,
}

ORACLES = {
    "wc": WORD_COUNT_SQL,
    "inverted_index": INVERTED_INDEX_SQL,
    "per_file_metrics": PER_FILE_METRICS_SQL,
    "count_per_key": COUNT_PER_KEY_SQL,
}


# -- Python UDTF surface: document chunking -----------------------------------

CHUNK_SIZE = 50
CHUNK_STRIDE = 40  # 10-word overlap


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping word-window chunks per document via a Python UDTF.

    The standard training-data chunking op (fixed-size windows, fixed
    overlap), implemented as a real arrow-optimized Python UDTF (1 row ->
    N rows) to exercise that API surface — the reference's Map contract is
    exactly this shape (SURVEY.md E2). Lateral join keeps doc_id attached.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_no int, n_words int, chunk string")
    class Chunker:
        def eval(self, text: str):
            import regex

            toks = [w for w in regex.split(r"[^\p{L}]+", text or "") if w]
            for i, start in enumerate(range(0, len(toks), CHUNK_STRIDE)):
                piece = toks[start : start + CHUNK_SIZE]
                yield i, len(piece), " ".join(piece)

    spark.udtf.register("doc_chunker", Chunker)
    return spark.sql(
        "SELECT d.doc_id, c.chunk_no, c.n_words, c.chunk "
        "FROM {docs} d, LATERAL doc_chunker(d.text) c",
        docs=_docs(spark, sf_dir),
    )


DOC_CHUNKS_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '[^\\p{{L}}]+'), w -> w <> '') AS t
  FROM documents
),
starts AS (
  SELECT doc_id, t, unnest(range(0, len(t), {CHUNK_STRIDE})) AS s
  FROM toks WHERE len(t) > 0
)
SELECT doc_id,
       CAST(s // {CHUNK_STRIDE} AS INT) AS chunk_no,
       CAST(least({CHUNK_SIZE}, len(t) - s) AS INT) AS n_words,
       array_to_string(t[s + 1 : s + {CHUNK_SIZE}], ' ') AS chunk
FROM starts
"""

QUERIES["doc_chunks"] = doc_chunks
ORACLES["doc_chunks"] = DOC_CHUNKS_SQL


def inverted_index_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional postings: (word, doc) -> term frequency + position list.

    The full-text-search extension of the reference's doc-level indexer
    (indexer.go:20-39): phrase and proximity queries need in-document token
    positions, so the posting carries them. One posexplode + one groupBy on
    (word, doc_id) — the same single-shuffle shape as the plain index; the
    per-posting state is bounded by a term's occurrences in ONE document,
    so no posting-list hot key forms (contrast the doc-level index, where
    a stop-word's posting spans the corpus).
    """
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "word")
    )
    return (
        toks.groupBy("word", "doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("pos_arr"))
        .select(
            "word",
            "doc_id",
            F.size("pos_arr").cast("long").alias("tf"),
            F.array_join(
                F.transform(F.col("pos_arr"), lambda p: p.cast("string")), ","
            ).alias("positions"),
        )
    )


INVERTED_INDEX_POS_SQL = f"""
WITH toks AS (
  SELECT doc_id, t FROM (
    SELECT doc_id, {DUCK_TOKENS.format(col='text')} AS t FROM documents
  ) WHERE len(t) > 0
),
occ AS (
  SELECT doc_id, tp.w AS word, tp.p AS pos
  FROM (
    SELECT doc_id,
           unnest([{{'w': t[i], 'p': i - 1}} for i in range(1, len(t) + 1)]) AS tp
    FROM toks
  )
)
SELECT word, doc_id,
       COUNT(*) AS tf,
       string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS positions
FROM occ
GROUP BY word, doc_id
"""

QUERIES["inverted_index_positional"] = inverted_index_positional
ORACLES["inverted_index_positional"] = INVERTED_INDEX_POS_SQL


MIN_DUP_CHUNK_WORDS = 20


def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-chunk detector: fixed-window chunks appearing more than once.

    Paragraph-level boilerplate (license headers, navigation chrome,
    templated intros) repeats ACROSS documents that are not whole-document
    duplicates — the dedup granularity document-level ops can't see. Groups
    the doc_chunks windows by content digest and reports every chunk that
    occurs twice or more, with the occurrence/document counts and the
    canonical keeper (lexicographically smallest (doc_id, chunk_no)).
    Short tail fragments (< MIN_DUP_CHUNK_WORDS words) are excluded — they
    repeat by chance. Shuffle carries (digest, doc_id, chunk_no), never
    chunk text.
    """
    chunks = doc_chunks(spark, sf_dir).filter(
        F.col("n_words") >= MIN_DUP_CHUNK_WORDS
    )
    keep = F.min(F.struct("doc_id", "chunk_no")).alias("keep")
    return (
        chunks.groupBy(F.md5("chunk").alias("chunk_digest"))
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            keep,
        )
        .filter(F.col("n_occurrences") > 1)
        .select(
            "chunk_digest",
            "n_occurrences",
            "n_docs",
            F.col("keep.doc_id").alias("keep_doc_id"),
            F.col("keep.chunk_no").alias("keep_chunk_no"),
        )
    )


CHUNK_DEDUP_SQL = f"""
WITH chunks AS ({DOC_CHUNKS_SQL}),
eligible AS (
  SELECT doc_id, chunk_no, md5(chunk) AS chunk_digest
  FROM chunks WHERE n_words >= {MIN_DUP_CHUNK_WORDS}
),
g AS (
  SELECT chunk_digest,
         COUNT(*) AS n_occurrences,
         COUNT(DISTINCT doc_id) AS n_docs,
         MIN(doc_id) AS keep_doc_id
  FROM eligible
  GROUP BY chunk_digest
  HAVING COUNT(*) > 1
)
SELECT g.chunk_digest, g.n_occurrences, g.n_docs, g.keep_doc_id,
       (SELECT MIN(e.chunk_no) FROM eligible e
        WHERE e.chunk_digest = g.chunk_digest AND e.doc_id = g.keep_doc_id)
         AS keep_chunk_no
FROM g
"""

QUERIES["chunk_dedup"] = chunk_dedup
ORACLES["chunk_dedup"] = CHUNK_DEDUP_SQL


def _roundtrip(spark: SparkSession, sf_dir: str, prefix: str, write, read, *cols):
    """The one body of the format round trips (see :func:`jsonl_roundtrip`):
    ``write(docs, path)`` under a scratch dir, ``read(path, docs.schema)``,
    then ``cols`` plus ``n_text_chars``, materialized before the dir is
    deleted so the returned plan never re-scans the deleted path."""
    d = _docs(spark, sf_dir)
    with fsutil.scratch(spark, prefix) as root:
        path = os.path.join(root, "docs")
        write(d, path)
        return (
            read(path, d.schema)
            .select(*cols, F.length("text").cast("long").alias("n_text_chars"))
            .localCheckpoint(eager=True)
        )


_DOC_COLS = ("doc_id", "lang", "source", "n_chars")


def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink + source coverage: write documents as JSON lines, re-read.

    JSONL is the lingua franca of LLM corpus interchange; this proves the
    engine can emit a corpus to JSONL and ingest it back losslessly. The
    query writes the documents table to a temp JSONL directory (one part
    file per partition — at scale this is the normal distributed sink),
    reads it back with an explicit schema (schema inference on 100 TB is a
    full extra scan — never rely on it), and returns a per-row projection
    the oracle computes from the parquet original: any drop, duplication or
    field corruption in the sink/source pair breaks the hash.
    """
    return _roundtrip(
        spark, sf_dir, "jsonl_rt_",
        lambda d, path: d.write.mode("overwrite").json(path),
        lambda path, schema: spark.read.schema(schema).json(path),
        *_DOC_COLS,
    )


JSONL_ROUNDTRIP_SQL = """
SELECT doc_id, lang, source, n_chars,
       CAST(len(text) AS BIGINT) AS n_text_chars
FROM documents
"""

QUERIES["jsonl_roundtrip"] = jsonl_roundtrip
ORACLES["jsonl_roundtrip"] = JSONL_ROUNDTRIP_SQL


def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source coverage (second columnar format besides parquet).

    Same contract as :func:`jsonl_roundtrip`: write the documents table to a
    temp ORC directory, re-read, and return a projection the oracle computes
    from the parquet original — the driver's hash gate catches any loss or
    type corruption in the ORC writer/reader pair.
    """
    return _roundtrip(
        spark, sf_dir, "orc_rt_",
        lambda d, path: d.write.mode("overwrite").orc(path),
        lambda path, schema: spark.read.schema(schema).orc(path),
        *_DOC_COLS,
    )


QUERIES["orc_roundtrip"] = orc_roundtrip
ORACLES["orc_roundtrip"] = JSONL_ROUNDTRIP_SQL



# Bounded-memory variants of the two aggregates whose per-group state grows
# O(corpus) (SCALE.md: stop-word posting lists; the per-key concat strings).
# At 100 TB the unbounded forms OOM a single aggregation buffer; these cap
# per-group state while preserving exact global counts / recoverable output.

POSTING_CAP = 8  # default top-k posting length; a production index would
# use O(10^3) — small here so fixture-scale runs actually exercise truncation


def inverted_index_capped(
    spark: SparkSession, sf_dir: str, k: int = POSTING_CAP
) -> DataFrame:
    """Inverted index with posting lists capped to the first ``k`` docs.

    Scale story: the unbounded index's collect_set holds EVERY doc per word
    in one aggregation buffer — stop words make that O(corpus). Here the
    bound comes from a sort-based window (spills gracefully) instead of an
    in-memory array: dedup (word, doc), rank docs per word, and aggregate
    with a rank-conditional collect_list that holds at most ``k`` elements
    per group. ``n_docs`` stays the TRUE document frequency (counted over
    all rows, pre-cap) and ``truncated`` flags capped words. One exchange
    for the dedup, one for the word partitioning; the final groupBy rides
    the window's partitioning with no third shuffle (pinned in
    tests/test_plans.py).
    """
    from pyspark.sql import Window

    toks = doc_tokens(_docs(spark, sf_dir)).select(
        "word", F.col("doc_id").cast("string").alias("doc")
    )
    t = toks.groupBy("word", "doc").agg(F.lit(1).alias("_one")).drop("_one")
    rn = F.row_number().over(Window.partitionBy("word").orderBy("doc"))
    return (
        t.withColumn("rn", rn)
        .groupBy("word")
        .agg(
            F.count("*").alias("n_docs"),
            F.sort_array(
                F.collect_list(F.when(F.col("rn") <= k, F.col("doc")))
            ).alias("docs_arr"),
        )
        .select(
            "word",
            "n_docs",
            F.size("docs_arr").cast("long").alias("n_kept"),
            F.array_join("docs_arr", ",").alias("docs_capped"),
            (F.col("n_docs") > k).alias("truncated"),
        )
    )


INVERTED_INDEX_CAPPED_SQL = f"""
WITH t AS (
  SELECT DISTINCT word, doc
  FROM (
    SELECT unnest({DUCK_TOKENS.format(col='text')}) AS word,
           CAST(doc_id AS VARCHAR) AS doc
    FROM documents
  )
),
r AS (
  SELECT word, doc, row_number() OVER (PARTITION BY word ORDER BY doc) AS rn
  FROM t
)
SELECT word,
       COUNT(*) AS n_docs,
       COUNT(CASE WHEN rn <= {POSTING_CAP} THEN 1 END) AS n_kept,
       COALESCE(string_agg(CASE WHEN rn <= {POSTING_CAP} THEN doc END,
                           ',' ORDER BY doc), '') AS docs_capped,
       COUNT(*) > {POSTING_CAP} AS truncated
FROM r
GROUP BY word
"""

QUERIES["inverted_index_capped"] = inverted_index_capped
ORACLES["inverted_index_capped"] = INVERTED_INDEX_CAPPED_SQL


CHUNK_VALUES = 64  # values per emitted chunk row


def per_file_metrics_chunked(
    spark: SparkSession, sf_dir: str, chunk: int = CHUNK_VALUES
) -> DataFrame:
    """per_file_metrics with the O(corpus) concat split into bounded chunks.

    Same contract as the reference's per-partition output files: one row per
    (key, chunk_no) holding ``chunk`` sorted values joined by spaces;
    concatenating chunks in chunk_no order reproduces per_file_metrics'
    merged string exactly. Chunk membership is deterministic even with
    duplicate values (equal values are interchangeable across a rank
    boundary, so the emitted strings are identical). Per-group aggregation
    state is bounded by ``chunk``; the global sort is a window (sort-based,
    spills) rather than an array build.
    """
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc"),
        F.octet_length("text").alias("blen"),
    )
    kv = docs.select(
        F.expr(
            "stack(4, 'a', doc, 'b', cast(length(doc) as string), "
            "'c', cast(blen as string), 'd', 'xyzzy') as (key, value)"
        )
    )
    rn = F.row_number().over(Window.partitionBy("key").orderBy("value"))
    return (
        kv.withColumn("chunk_no", ((rn - F.lit(1)) / chunk).cast("long"))
        .groupBy("key", "chunk_no")
        .agg(
            F.count("*").alias("n_values"),
            F.array_join(F.sort_array(F.collect_list("value")), " ").alias("merged"),
        )
    )


PER_FILE_METRICS_CHUNKED_SQL = f"""
WITH kv AS (
  SELECT 'a' AS key, CAST(doc_id AS VARCHAR) AS value FROM documents
  UNION ALL
  SELECT 'b', CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR) FROM documents
  UNION ALL
  SELECT 'c', CAST(strlen(text) AS VARCHAR) FROM documents
  UNION ALL
  SELECT 'd', 'xyzzy' FROM documents
),
r AS (
  SELECT key, value,
         (row_number() OVER (PARTITION BY key ORDER BY value) - 1)
           // {CHUNK_VALUES} AS chunk_no
  FROM kv
)
SELECT key, chunk_no,
       COUNT(*) AS n_values,
       string_agg(value, ' ' ORDER BY value) AS merged
FROM r
GROUP BY key, chunk_no
"""

QUERIES["per_file_metrics_chunked"] = per_file_metrics_chunked
ORACLES["per_file_metrics_chunked"] = PER_FILE_METRICS_CHUNKED_SQL


def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source coverage (the interchange format, after parquet/
    jsonl/orc).

    Same contract as :func:`jsonl_roundtrip`, but CSV is the adversarial
    case: document text contains commas, quotes and newlines, so the
    writer's quoting/escaping and the reader's multiLine parsing are what
    is actually under test — the oracle hash catches any mangling. The
    dialect is the package's one CSV writer and reader
    (:func:`sources.csv_writer`/:func:`sources.csv_reader`), the same one
    ``Engine.save_csv``/``load_csv`` and the CLI use.
    """
    return _roundtrip(
        spark, sf_dir, "csv_rt_",
        lambda d, path: csv_writer(d).csv(path),
        lambda path, schema: csv_reader(spark).schema(schema).csv(path),
        *_DOC_COLS,
    )


QUERIES["csv_roundtrip"] = csv_roundtrip
ORACLES["csv_roundtrip"] = JSONL_ROUNDTRIP_SQL


def schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution: two writer generations, one merged read.

    The data-lake reality check the other roundtrips don't cover: an early
    ingest generation wrote documents WITHOUT the ``source`` column; a
    later generation added it. Both live under one table path and
    ``mergeSchema`` must union the schemas, null-filling the missing
    column for old files — the read-side contract a 100 TB lake depends on
    when columns are added without rewriting history. The query projects
    the merged result with a COALESCE backfill; the oracle reproduces it
    from the original table (even doc_ids = generation-1 rows).
    """

    def write(d: DataFrame, path: str) -> None:
        gen1 = d.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "text", "lang", "n_chars"
        )
        gen2 = d.filter(F.col("doc_id") % 2 != 0)
        gen1.write.mode("overwrite").parquet(os.path.join(path, "gen=1"))
        gen2.write.mode("overwrite").parquet(os.path.join(path, "gen=2"))

    return _roundtrip(
        spark, sf_dir, "schev_rt_",
        write,
        lambda path, _schema: spark.read.option("mergeSchema", "true").parquet(path),
        "doc_id", "lang",
        F.coalesce("source", F.lit("(pre-schema)")).alias("source_evolved"),
        "n_chars",
    )


SCHEMA_EVOLUTION_SQL = """
SELECT doc_id, lang,
       CASE WHEN doc_id % 2 = 0 THEN '(pre-schema)' ELSE source END AS source_evolved,
       n_chars,
       CAST(len(text) AS BIGINT) AS n_text_chars
FROM documents
"""

QUERIES["schema_evolution_roundtrip"] = schema_evolution_roundtrip
ORACLES["schema_evolution_roundtrip"] = SCHEMA_EVOLUTION_SQL


def partitioned_prune_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned sink + partition-pruned read.

    Writes documents partitioned by `lang` (the layout a 100 TB corpus
    actually uses — partition columns become directories, so a reader
    filtering on lang never opens the other partitions' files), then reads
    back ONLY one partition via a filter that must prune at planning time
    (PartitionFilters in the scan). The returned frame is a
    localCheckpoint, whose plan shows no scan, so this layout and filter
    are pinned by
    tests/test_partitioned_sink.py::test_partitioned_write_and_pruned_read.
    The returned per-row projection is hash-compared against the oracle
    computing the same filter on the original — any loss in the
    partitioned writer or any partition mis-assignment breaks the hash; the
    lang column also proves partition-column values survive the
    directory-encoding roundtrip.
    """
    return _roundtrip(
        spark, sf_dir, "part_rt_",
        lambda d, path: d.write.mode("overwrite").partitionBy("lang").parquet(path),
        lambda path, _schema: spark.read.parquet(path).filter(F.col("lang") == "en"),
        "doc_id", "lang", "source",
    )


PARTITIONED_PRUNE_SQL = """
SELECT doc_id, lang, source, CAST(len(text) AS BIGINT) AS n_text_chars
FROM documents WHERE lang = 'en'
"""

QUERIES["partitioned_prune_roundtrip"] = partitioned_prune_roundtrip
ORACLES["partitioned_prune_roundtrip"] = PARTITIONED_PRUNE_SQL
