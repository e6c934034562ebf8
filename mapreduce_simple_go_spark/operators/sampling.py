"""Corpus curation operators: rule-based filtering + deterministic sampling.

The training-data pipeline stages that sit between raw ingestion and
training: drop junk documents (Gopher/C4-style rule filters) and cut
reproducible subsets (stratified rates per language, fixed-k per stratum).
Everything is a pure function of document CONTENT — no RNG, no state — so
results are identical across reruns, partitionings, and cluster sizes, and
exact duplicates always land on the same side of every cut (no train/test
leakage from dupes). Same design stance as doc_split_assign
(textstats.py); the reference's analog is its deterministic sorted output
contract (/root/reference/src/main/test-mr.sh:90).

All operators are built-in expressions over one documents scan — no
shuffle at all for the filter/sample paths (the per-stratum top-k shuffles
once on the stratum key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import duckdb_hash48, hash48, tokens
from ..sources import table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "documents")


# Rule thresholds (Gopher-flavored, tuned so the synthetic fixture corpus
# has both passing and failing docs — see tests/test_sampling.py).
MIN_TOKENS = 20
MAX_TOKENS = 5000
MIN_MEAN_WLEN = 2.0
MAX_MEAN_WLEN = 12.0
MAX_TOP_SHARE = 0.11  # most frequent token may cover <= 11% of the doc
MIN_ALPHA_RATIO = 0.7


def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based document filter with per-rule diagnostics.

    Four Gopher-style rules: token-count bounds, mean word length bounds,
    repetition ceiling (share of the single most frequent token), and
    letter-character ratio. Emits every doc with its measurements, the
    verdict, and a deterministic comma-joined list of failed rules — the
    shape a pipeline wants for threshold tuning (group by fail_reasons).

    One explode + one groupBy(doc_id) — the repetition rule needs per-term
    counts; everything else is per-row expressions. At 100 TB the groupBy
    key is doc_id (uniform), so no skew.
    """
    d = _docs(spark, sf_dir)
    term_stats = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.max("tf").alias("max_tf"),
            F.sum(F.col("tf") * F.length("term")).alias("n_letters_tok"),
        )
    )
    alpha_ratio = F.round(
        F.length(F.regexp_replace("text", r"[^\p{L}]", ""))
        / F.greatest(F.length("text"), F.lit(1)).cast("double"),
        9,
    )
    mean_wlen = F.round(
        F.col("n_letters_tok") / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"), 9
    )
    top_share = F.round(
        F.col("max_tf") / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"), 9
    )
    # LEFT join: a doc whose text tokenizes to nothing (all punctuation or
    # digits) has no term_stats row but must still surface — with
    # n_tokens=0 and a failing verdict — per the "emits every doc" contract.
    scored = (
        d.select("doc_id", "text")
        .join(term_stats, "doc_id", "left")
        .withColumn("n_tokens", F.coalesce(F.col("n_tokens"), F.lit(0).cast("long")))
        .withColumn("max_tf", F.coalesce(F.col("max_tf"), F.lit(0).cast("long")))
        .withColumn(
            "n_letters_tok", F.coalesce(F.col("n_letters_tok"), F.lit(0).cast("long"))
        )
        .select(
            "doc_id",
            "n_tokens",
            mean_wlen.alias("mean_word_len"),
            top_share.alias("top_token_share"),
            alpha_ratio.alias("alpha_ratio"),
        )
    )
    r_tokens = F.col("n_tokens").between(MIN_TOKENS, MAX_TOKENS)
    r_wlen = F.col("mean_word_len").between(MIN_MEAN_WLEN, MAX_MEAN_WLEN)
    r_rep = F.col("top_token_share") <= MAX_TOP_SHARE
    r_alpha = F.col("alpha_ratio") >= MIN_ALPHA_RATIO
    return scored.select(
        "*",
        (r_tokens & r_wlen & r_rep & r_alpha).alias("passes"),
        F.concat_ws(
            ",",
            F.when(~r_tokens, F.lit("n_tokens")),
            F.when(~r_wlen, F.lit("mean_word_len")),
            F.when(~r_rep, F.lit("repetition")),
            F.when(~r_alpha, F.lit("alpha_ratio")),
        ).alias("fail_reasons"),
    )


QUALITY_FILTER_SQL = rf"""
WITH tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(text, '[^\p{{L}}]+'), w -> w <> '')) AS term
        FROM documents)
  GROUP BY doc_id, term
),
ts AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens, MAX(tf) AS max_tf,
         SUM(tf * length(term)) AS n_letters_tok
  FROM tf GROUP BY doc_id
),
scored AS (
  SELECT d.doc_id, CAST(COALESCE(ts.n_tokens, 0) AS BIGINT) AS n_tokens,
         round(COALESCE(ts.n_letters_tok, 0)
             / CAST(greatest(COALESCE(ts.n_tokens, 0), 1) AS DOUBLE), 9) AS mean_word_len,
         round(COALESCE(ts.max_tf, 0)
             / CAST(greatest(COALESCE(ts.n_tokens, 0), 1) AS DOUBLE), 9) AS top_token_share,
         round(length(regexp_replace(d.text, '[^\p{{L}}]', '', 'g'))
             / CAST(greatest(length(d.text), 1) AS DOUBLE), 9) AS alpha_ratio
  FROM documents d LEFT JOIN ts ON d.doc_id = ts.doc_id
)
SELECT doc_id, n_tokens, mean_word_len, top_token_share, alpha_ratio,
       (n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS})
       AND (mean_word_len BETWEEN {MIN_MEAN_WLEN} AND {MAX_MEAN_WLEN})
       AND (top_token_share <= {MAX_TOP_SHARE})
       AND (alpha_ratio >= {MIN_ALPHA_RATIO}) AS passes,
       concat_ws(',',
         CASE WHEN NOT (n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}) THEN 'n_tokens' END,
         CASE WHEN NOT (mean_word_len BETWEEN {MIN_MEAN_WLEN} AND {MAX_MEAN_WLEN}) THEN 'mean_word_len' END,
         CASE WHEN NOT (top_token_share <= {MAX_TOP_SHARE}) THEN 'repetition' END,
         CASE WHEN NOT (alpha_ratio >= {MIN_ALPHA_RATIO}) THEN 'alpha_ratio' END) AS fail_reasons
FROM scored
"""


# per-language keep rates for the stratified sample (en-heavy corpus gets
# downsampled less; the map is the pipeline's knob)
STRATA_RATES = {"en": 0.5, "fr": 0.25, "de": 0.25, "es": 0.25, "zh": 0.25}
_RATE_CASE_SPARK = "CASE lang " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in STRATA_RATES.items()
) + " ELSE 0.1 END"


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language subsample at configured rates.

    keep <=> hash48(md5('sample:' || text)) % 10000 < rate * 10000. The
    salt decorrelates this cut from doc_split_assign's (which hashes bare
    text) — independent deterministic draws need independent hashes. Pure
    map-side: filter folds into the parquet scan, zero shuffle.
    """
    d = _docs(spark, sf_dir)
    bucket = hash48(F.md5(F.concat(F.lit("sample:"), F.col("text")))) % 10000
    rate = F.expr(_RATE_CASE_SPARK)
    return (
        d.withColumn("bucket", bucket)
        .filter(F.col("bucket") < rate * 10000)
        .select("doc_id", "lang", "source")
    )


_RATE_CASE_DUCK = _RATE_CASE_SPARK  # identical ANSI CASE syntax

STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, lang, source
FROM (
  SELECT doc_id, lang, source,
         {duckdb_hash48("md5('sample:' || text)")} % 10000 AS bucket,
         {_RATE_CASE_DUCK} AS rate
  FROM documents
)
WHERE bucket < rate * 10000
"""


SAMPLE_K = 5


def sample_per_stratum(spark: SparkSession, sf_dir: str, k: int = SAMPLE_K) -> DataFrame:
    """Fixed-k deterministic sample per language: the k docs with the
    smallest content hashes.

    The distributed analog of per-stratum reservoir sampling with a
    content-keyed "random" order — rerun-stable and independent of row
    order. One shuffle on the stratum key; per-partition top-k would be the
    optimization at extreme stratum cardinality (rank window is fine for
    per-language strata).
    """
    d = _docs(spark, sf_dir)
    h = hash48(F.md5(F.concat(F.lit("reservoir:"), F.col("text"))))
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        d.withColumn("h", h)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("doc_id", "lang", F.col("rk").cast("int").alias("rk"))
    )


SAMPLE_PER_STRATUM_SQL = f"""
SELECT doc_id, lang, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY {duckdb_hash48("md5('reservoir:' || text)")}, doc_id
         ) AS rk
  FROM documents
)
WHERE rk <= {SAMPLE_K}
"""


QUERIES = {
    "quality_filter": quality_filter,
    "stratified_sample": stratified_sample,
    "sample_per_stratum": sample_per_stratum,
}

ORACLES = {
    "quality_filter": QUALITY_FILTER_SQL,
    "stratified_sample": STRATIFIED_SAMPLE_SQL,
    "sample_per_stratum": SAMPLE_PER_STRATUM_SQL,
}


def _split_col(digest):
    # The split hashes md5(text) — exactly the exact-dedup digest, so
    # callers pass the digest they already carry instead of paying a
    # second md5 over the full text (and instead of needing text at all).
    h = hash48(digest) % 100
    return F.when(h < 80, "train").when(h < 90, "val").otherwise("test")


def _curated_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-passing docs reduced to one representative per exact-duplicate
    group (min doc_id per md5(text) — the dedup_exact retention rule).
    Returns (doc_id, lang, source, digest).

    r14 (shuffle fewer bytes): neither consumer reads text;
    the split hash downstream is a function of the digest itself. So the
    dedup exchange carries (digest, doc_id, lang, source) — never the
    document body — and the min-doc_id retention is a partially
    aggregated min_by (doc_id is unique, so the survivor row == the old
    window rn=1 survivor, lang/source riding along from the same row)
    instead of a full per-group window sort. Its struct-typed buffer is
    not a mutable hash-agg type, so min_by plans as a partial+final
    SortAggregate (check with ``explain()``), the same as
    min(struct) would (measured — the min(struct) form was a wash).
    """
    q = quality_filter(spark, sf_dir).filter(F.col("passes")).select("doc_id")
    d = _docs(spark, sf_dir).join(q, "doc_id")
    rep = (
        d.select(
            F.md5("text").alias("digest"),
            F.struct("doc_id", "lang", "source").alias("r"),
        )
        .groupBy("digest")
        .agg(F.min_by("r", F.col("r.doc_id")).alias("r"))
    )
    return rep.select("r.doc_id", "r.lang", "r.source", "digest")


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation: quality gate -> exact-dedup -> split.

    The composed training-data path, in one declarative plan so Catalyst
    shares the documents scan across stages:

    1. keep docs passing :func:`quality_filter`'s rules;
    2. keep ONE representative per exact-duplicate group (min doc_id per
       md5(text) — the dedup_exact retention rule);
    3. assign the survivor its deterministic train/val/test split (same
       hash split as textstats.doc_split_assign).

    Output = the final corpus manifest (doc_id, lang, source, split).
    Stage order matters at scale: the quality filter is a cheap map that
    shrinks the corpus BEFORE the dedup shuffle pays for it.
    """
    return _curated_reps(spark, sf_dir).select(
        "doc_id", "lang", "source", _split_col(F.col("digest")).alias("split")
    )


# Shared curation CTE body (quality rules -> exact-dedup reps); used by
# CURATION_PIPELINE_SQL and the training_corpus_pipeline oracle.
_CURATION_CTES = f"""tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(text, '[^\\p{{L}}]+'), w -> w <> '')) AS term
        FROM documents)
  GROUP BY doc_id, term
),
ts AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens, MAX(tf) AS max_tf,
         SUM(tf * length(term)) AS n_letters_tok
  FROM tf GROUP BY doc_id
),
passing AS (
  -- LEFT JOIN + COALESCE mirrors quality_filter: token-less docs get
  -- n_tokens=0 and fail the first rule (outcome identical to the inner
  -- join here, kept in lockstep with QUALITY_FILTER_SQL to avoid drift)
  SELECT d.doc_id, d.text, d.lang, d.source
  FROM documents d LEFT JOIN ts ON d.doc_id = ts.doc_id
  WHERE (COALESCE(ts.n_tokens, 0) BETWEEN {MIN_TOKENS} AND {MAX_TOKENS})
    AND (round(COALESCE(ts.n_letters_tok, 0)
         / CAST(greatest(COALESCE(ts.n_tokens, 0), 1) AS DOUBLE), 9)
         BETWEEN {MIN_MEAN_WLEN} AND {MAX_MEAN_WLEN})
    AND (round(COALESCE(ts.max_tf, 0)
         / CAST(greatest(COALESCE(ts.n_tokens, 0), 1) AS DOUBLE), 9) <= {MAX_TOP_SHARE})
    AND (round(length(regexp_replace(d.text, '[^\\p{{L}}]', '', 'g'))
         / CAST(greatest(length(d.text), 1) AS DOUBLE), 9) >= {MIN_ALPHA_RATIO})
),
reps AS (
  SELECT doc_id, lang, source, text FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM passing
  ) WHERE rn = 1
)"""

_SPLIT_SELECT = f"""SELECT doc_id, lang, source,
       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
FROM (SELECT doc_id, lang, source, {duckdb_hash48("md5(text)")} % 100 AS b FROM {{src}})"""

CURATION_PIPELINE_SQL = f"""
WITH {_CURATION_CTES}
{_SPLIT_SELECT.format(src="reps")}
"""

QUERIES["curation_pipeline"] = curation_pipeline
ORACLES["curation_pipeline"] = CURATION_PIPELINE_SQL


def training_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL training-data prep chain in one declarative plan:
    quality gate -> exact dedup -> NEAR-dup cluster dedup -> split.

    Extends :func:`curation_pipeline` with the near-duplicate stage a real
    corpus build runs: MinHash-LSH candidate pairs are clustered
    (connected components, dedup.dedup_clusters) and each cluster keeps its
    smallest-doc_id SURVIVING member — so A~B near-dups where both passed
    quality collapse to one doc even when their digests differ. Docs in no
    near-dup cluster keep themselves (COALESCE(cluster_id, doc_id) is the
    retention group). Output = the final manifest (doc_id, lang, source,
    split). At scale every stage is the operator already analyzed in
    SCALE.md; the composition adds no new shuffle shape — the cluster map
    is a (doc_id, cluster_id) table joined on the already-partitioned id.
    """
    from .dedup import dedup_clusters

    reps = _curated_reps(spark, sf_dir)
    clusters = dedup_clusters(spark, sf_dir)
    # r14: min_by per retention group replaces the rn=1 window — partial
    # ObjectHashAggregate instead of Exchange + per-group Sort (doc_id is
    # unique, so the survivor is identical; its own digest rides along
    # for the split hash). min_by, not min(struct) — see _curated_reps.
    return (
        reps.join(clusters, "doc_id", "left")
        .groupBy(F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("grp"))
        .agg(
            F.min_by(
                F.struct("doc_id", "lang", "source", "digest"), F.col("doc_id")
            ).alias("r")
        )
        .select(
            "r.doc_id",
            "r.lang",
            "r.source",
            _split_col(F.col("r.digest")).alias("split"),
        )
    )


def _training_sql() -> str:
    from .dedup import CLUSTERS_CTES

    return f"""
WITH RECURSIVE {CLUSTERS_CTES},
clusters AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
{_CURATION_CTES},
near AS (
  SELECT r.doc_id, r.lang, r.source, r.text,
         ROW_NUMBER() OVER (PARTITION BY COALESCE(c.cluster_id, r.doc_id)
                            ORDER BY r.doc_id) AS nrn
  FROM reps r LEFT JOIN clusters c ON c.doc_id = r.doc_id
)
{_SPLIT_SELECT.format(src="near WHERE nrn = 1")}
"""


QUERIES["training_corpus_pipeline"] = training_corpus_pipeline
ORACLES["training_corpus_pipeline"] = _training_sql()


# Sequence packing -------------------------------------------------------------

PACK_CAP = 512  # tokens per training sequence
PACK_BUCKET = 1000  # docs per prefix-sum bucket


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenation-style sequence packing: assign each doc its training
    sequence index and intra-sequence offset.

    GPT-style pretraining concatenates a source's token stream in a fixed
    document order and cuts it every PACK_CAP tokens; a doc belongs to the
    sequence containing its first token. That is an exclusive prefix sum
    of per-doc token counts — computed here as a TWO-LEVEL prefix sum so
    it scales: per-bucket token subtotals (PACK_BUCKET docs per bucket)
    get their running offsets in a tiny per-source window, while the
    per-doc cumsum windows run inside (source, bucket) partitions —
    thousands of small parallel windows instead of one giant per-source
    sort. At 100 TB no single window ever sees more than PACK_BUCKET
    rows; the bucket-level window sees n_docs/PACK_BUCKET rows.
    Everything is exact integer arithmetic — bit-identical cross-engine.
    """
    d = _docs(spark, sf_dir)
    ws = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != F.lit(""))
    base = d.select(
        "doc_id",
        "source",
        F.size(ws).alias("n_tokens"),
        F.floor(F.col("doc_id") / PACK_BUCKET).alias("bucket"),
    )
    per_bucket = base.groupBy("source", "bucket").agg(
        F.sum("n_tokens").alias("bucket_sum")
    )
    w_bucket = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bucket_offsets = per_bucket.select(
        "source",
        "bucket",
        F.coalesce(F.sum("bucket_sum").over(w_bucket), F.lit(0)).alias(
            "bucket_offset"
        ),
    )
    w_doc = (
        Window.partitionBy("source", "bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        base.join(bucket_offsets, ["source", "bucket"])
        .withColumn(
            "cum_before",
            F.col("bucket_offset")
            + F.coalesce(F.sum("n_tokens").over(w_doc), F.lit(0)),
        )
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.floor(F.col("cum_before") / PACK_CAP).cast("long").alias("seq_id"),
            (F.col("cum_before") % PACK_CAP).cast("long").alias("seq_offset"),
        )
    )


PACK_SEQUENCES_SQL = rf"""
WITH base AS (
  SELECT doc_id, source,
         len(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '')) AS n_tokens,
         CAST(FLOOR(doc_id / {PACK_BUCKET}) AS BIGINT) AS bucket
  FROM documents
),
bucket_offsets AS (
  SELECT source, bucket,
         COALESCE(SUM(bucket_sum) OVER (PARTITION BY source ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bucket_offset
  FROM (SELECT source, bucket, SUM(n_tokens) AS bucket_sum
        FROM base GROUP BY source, bucket)
),
packed AS (
  SELECT b.doc_id, b.source, b.n_tokens,
         o.bucket_offset
         + COALESCE(SUM(b.n_tokens) OVER (PARTITION BY b.source, b.bucket
                     ORDER BY b.doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM base b JOIN bucket_offsets o ON b.source = o.source AND b.bucket = o.bucket
)
SELECT doc_id, source, n_tokens,
       CAST(FLOOR(cum_before / {PACK_CAP}) AS BIGINT) AS seq_id,
       CAST(cum_before % {PACK_CAP} AS BIGINT) AS seq_offset
FROM packed
"""

QUERIES["pack_sequences"] = pack_sequences
ORACLES["pack_sequences"] = PACK_SEQUENCES_SQL


# --- Length-bucketed batch construction --------------------------------------
#
# Training loaders group sequences of similar length to minimize padding
# waste. Distributed form: bucket by token-length bin, then number rows
# within each bucket deterministically (content-independent order: doc_id)
# and cut batches of BATCH_SIZE. One shuffle (the per-bucket window sort);
# at 100 TB the bucket key prefixes the sort so every batch is built inside
# its bucket partition — the same two-level pattern pack_sequences uses.

LENGTH_BUCKET_WIDTH = 16   # tokens per bucket bin
BATCH_SIZE = 8


def length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign each document a (bucket, batch_id, pad_waste) for training."""
    d = _docs(spark, sf_dir)
    n_tok = F.size(tokens(F.col("text")))
    bucketed = d.select(
        "doc_id", n_tok.alias("n_tokens")
    ).withColumn("bucket", F.expr(f"n_tokens div {LENGTH_BUCKET_WIDTH}"))
    batched = bucketed.withColumn(
        "batch_id", F.expr(f"(row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1) div {BATCH_SIZE}")
    )
    wb = Window.partitionBy("bucket", "batch_id")
    return batched.select(
        "doc_id",
        "n_tokens",
        "bucket",
        "batch_id",
        (F.max("n_tokens").over(wb) - F.col("n_tokens")).alias("pad_waste"),
    )


LENGTH_BUCKET_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(text, '[^\\p{{L}}]+'), w -> w <> '')) AS n_tokens
  FROM documents
),
b AS (
  SELECT doc_id, n_tokens, n_tokens // {LENGTH_BUCKET_WIDTH} AS bucket FROM toks
),
batched AS (
  SELECT doc_id, n_tokens, bucket,
         (row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1) // {BATCH_SIZE} AS batch_id
  FROM b
)
SELECT doc_id, n_tokens, bucket, batch_id,
       MAX(n_tokens) OVER (PARTITION BY bucket, batch_id) - n_tokens AS pad_waste
FROM batched
"""

QUERIES["length_bucket_batches"] = length_bucket_batches
ORACLES["length_bucket_batches"] = LENGTH_BUCKET_SQL


# Weighted sampling without replacement ---------------------------------------

WEIGHTED_SAMPLE_K = 50


def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted reservoir sampling (A-Res), the
    distributed-native formulation: each item gets key u^(1/w) for uniform
    u, and the global sample-without-replacement is simply the top-k by
    key — which Spark computes as TakeOrderedAndProject, no reservoir
    state, no sequential pass, trivially mergeable across partitions.

    u is derived deterministically from hash48(doc_id)/2^48 (both engines
    recompute it), weight = n_chars, and the comparison key is
    log(u)/w — monotone in u^(1/w) but numerically stable for large
    weights (u^(1/3000) collapses toward 1.0 in doubles; log keeps
    resolution). Long documents are proportionally more likely to be
    drawn; the fixed key makes the draw reproducible run-to-run — the
    property a training-data sampling pipeline needs for auditability.
    """
    d = _docs(spark, sf_dir)
    u = (hash48(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))) + 1) / float((1 << 48) + 1)
    key = F.log(u) / F.col("n_chars").cast("double")
    return (
        d.select(
            "doc_id",
            "n_chars",
            F.round(key, 15).alias("draw_key"),
        )
        # max key wins (log u < 0; dividing by a bigger weight moves it
        # toward 0): descending top-k
        .orderBy(F.desc("draw_key"), F.asc("doc_id"))
        .limit(WEIGHTED_SAMPLE_K)
    )


_WS_U = (
    "(CAST(list_sum(list_transform(range(1,13), i -> "
    "(strpos('0123456789abcdef', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), i, 1)) - 1) "
    "* power(16::DOUBLE, 12 - i))) AS BIGINT) + 1) / " + str(float((1 << 48) + 1))
)

WEIGHTED_SAMPLE_SQL = f"""
SELECT doc_id, n_chars,
       round(ln({_WS_U}) / CAST(n_chars AS DOUBLE), 15) AS draw_key
FROM documents
ORDER BY draw_key DESC, doc_id ASC
LIMIT {WEIGHTED_SAMPLE_K}
"""

QUERIES["weighted_sample_docs"] = weighted_sample_docs
ORACLES["weighted_sample_docs"] = WEIGHTED_SAMPLE_SQL


def domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights that rebalance the corpus token mix to a
    uniform target share (the domain-mixture step of training-data
    assembly: upweight under-represented sources, downweight dominant
    ones).

    mix_weight = target_share / actual_token_share, so sampling each
    source's documents with probability proportional to its weight yields
    the target distribution in expectation. One tokenize pass + one
    groupBy(source); the corpus-wide totals ride in on a broadcast
    crossJoin of the single-row global aggregate (the scalar-join pattern
    every engine compiles to a broadcast at any scale). Token counts are
    exact int64 — shares are rounded only at the output edge.
    """
    docs = _docs(spark, sf_dir)
    per_src = (
        docs.select("source", F.size(tokens(F.col("text"))).cast("long").alias("n_tok"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
    )
    totals = per_src.agg(
        F.count("*").alias("n_sources"), F.sum("n_tokens").alias("tot_tokens")
    )
    # A token-free source (or corpus) has an undefined share/weight: NULL
    # on BOTH engines, never a div-by-zero (Spark would yield NULL where
    # DuckDB's IEEE float division yields inf — a hash-gate divergence).
    return (
        per_src.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.when(
                F.col("tot_tokens") > 0,
                F.round(F.col("n_tokens") / F.col("tot_tokens"), 9),
            ).alias("token_share"),
            F.when(
                F.col("n_tokens") > 0,
                F.round(
                    F.col("tot_tokens") / (F.col("n_sources") * F.col("n_tokens")), 9
                ),
            ).alias("mix_weight"),
        )
    )


DOMAIN_MIX_SQL = """
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(list_filter(regexp_split_to_array(text, '[^\\p{L}]+'),
                                  w -> w <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
totals AS (
  SELECT COUNT(*) AS n_sources, SUM(n_tokens) AS tot_tokens FROM per_src
)
SELECT source, n_docs, n_tokens,
       CASE WHEN tot_tokens > 0
            THEN round(CAST(n_tokens AS DOUBLE) / tot_tokens, 9) END AS token_share,
       CASE WHEN n_tokens > 0
            THEN round(CAST(tot_tokens AS DOUBLE) / (n_sources * n_tokens), 9)
       END AS mix_weight
FROM per_src, totals
"""

QUERIES["domain_mix_weights"] = domain_mix_weights
ORACLES["domain_mix_weights"] = DOMAIN_MIX_SQL
