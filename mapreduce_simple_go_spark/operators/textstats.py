"""Text analysis operators for training-data curation.

Generalizes the reference's tokenizer apps (wc.go/indexer.go split-on-
non-letter contract) into per-document corpus statistics:

- :func:`token_stats`      — whitespace + BPE-ish regex token counting
- :func:`text_quality`     — length / punctuation / stopword quality signals
- :func:`lang_id`          — marker-stopword n-gram heuristic language ID
- :func:`doc_fingerprint`  — content digest + min-shingle-hash fingerprint

Everything is built-in expressions (regexp_count, higher-order array
functions) — no Python in the data path; per-document work parallelizes
embarrassingly and the only shuffles are final aggregations, if any.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import duckdb_hash48, hash48, tokens
from ..sources import table

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol.
BPE_REGEX = r"[\p{L}]+|[0-9]+|[^\s\p{L}0-9]"
STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]

# language marker stopwords for the n-gram-free heuristic; ties and no-hit
# documents fall back to 'en' (ordering = list order below).
LANG_MARKERS = {
    "en": ["the", "and", "of", "is"],
    "es": ["el", "la", "que", "los"],
    "fr": ["le", "les", "des", "est"],
    "de": ["der", "die", "und", "ist"],
    "zh": ["de", "le", "shi", "bu"],
}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "documents")


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts: whitespace tokens, BPE-ish pieces, letters."""
    d = _docs(spark, sf_dir)
    ws = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != F.lit(""))
    return d.select(
        "doc_id",
        F.size(ws).alias("n_ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(BPE_REGEX)).alias("n_bpe_tokens"),
        F.size(tokens(F.col("text"))).alias("n_word_tokens"),
        F.length("text").alias("n_chars"),
        F.length(F.regexp_replace("text", r"[^\p{L}]", "")).alias("n_letters"),
    )


TOKEN_STATS_SQL = rf"""
SELECT doc_id,
       len(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '')) AS n_ws_tokens,
       len(regexp_extract_all(text, '{BPE_REGEX}')) AS n_bpe_tokens,
       len(list_filter(regexp_split_to_array(text, '[^\p{{L}}]+'), w -> w <> '')) AS n_word_tokens,
       length(text) AS n_chars,
       length(regexp_replace(text, '[^\p{{L}}]', '', 'g')) AS n_letters
FROM documents
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals + composite score per document.

    All ratios are double divisions of integer counts computed identically
    in both engines, so the score is bit-reproducible.
    """
    # ONE scan, zero joins (r14, remove the join outright): the old form joined
    # token_stats back onto documents just to re-attach `text` — a
    # doc_id-keyed self-join of two scans of the SAME table. Every
    # signal is a per-row property; compute them in one projection.
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "text",
        F.length("text").alias("n_chars"),
        F.length(F.regexp_replace("text", r"[^\p{L}]", "")).alias("n_letters"),
        F.size(tokens(F.col("text"))).alias("n_word_tokens"),
    )
    toks = tokens(F.col("text"))
    alpha_ratio = F.col("n_letters") / F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    stop_ratio = F.col("n_stop") / F.greatest(F.col("n_word_tokens"), F.lit(1)).cast("double")
    avg_wlen = F.col("n_letters") / F.greatest(F.col("n_word_tokens"), F.lit(1)).cast("double")
    return (
        d.withColumn("n_stop", F.size(F.filter(toks, lambda w: F.lower(w).isin(STOPWORDS))))
        .select(
            "doc_id",
            F.round(alpha_ratio, 9).alias("alpha_ratio"),
            F.round(stop_ratio, 9).alias("stopword_ratio"),
            F.round(avg_wlen, 9).alias("avg_word_len"),
            F.round(
                F.lit(0.5) * alpha_ratio
                + F.lit(0.3) * F.least(stop_ratio * 4, F.lit(1.0))
                + F.lit(0.2) * F.least(F.col("n_word_tokens") / 100.0, F.lit(1.0)),
                9,
            ).alias("quality_score"),
        )
    )


_DUCK_QUALITY_BASE = rf"""
  SELECT doc_id,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^\p{{L}}]', '', 'g')) AS n_letters,
         list_filter(regexp_split_to_array(text, '[^\p{{L}}]+'), w -> w <> '') AS toks
  FROM documents
"""

TEXT_QUALITY_SQL = f"""
WITH base AS ({_DUCK_QUALITY_BASE}),
m AS (
  SELECT doc_id, n_chars, n_letters,
         len(toks) AS n_word_tokens,
         len(list_filter(toks, w -> list_contains({STOPWORDS!r}, lower(w)))) AS n_stop
  FROM base
)
SELECT doc_id,
       round(n_letters / CAST(greatest(n_chars, 1) AS DOUBLE), 9) AS alpha_ratio,
       round(n_stop / CAST(greatest(n_word_tokens, 1) AS DOUBLE), 9) AS stopword_ratio,
       round(n_letters / CAST(greatest(n_word_tokens, 1) AS DOUBLE), 9) AS avg_word_len,
       round(0.5 * (n_letters / CAST(greatest(n_chars, 1) AS DOUBLE))
           + 0.3 * least((n_stop / CAST(greatest(n_word_tokens, 1) AS DOUBLE)) * 4, 1.0)
           + 0.2 * least(n_word_tokens / 100.0, 1.0), 9) AS quality_score
FROM m
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language identification.

    Scores each language by marker-token hits over the document's tokens;
    argmax with first-listed-language tie-break. (The fixture's ``lang``
    column does not correlate with its synthetic vocabulary, so accuracy is
    not the point — the operator shape is: per-doc scoring against broadcast
    profiles, a one-pass classify of the whole corpus.)
    """
    d = _docs(spark, sf_dir)
    toks = F.transform(tokens(F.col("text")), lambda w: F.lower(w))
    scored = d.select("doc_id", F.col("lang").alias("labeled_lang"), toks.alias("toks"))
    score_cols = [
        F.size(F.filter(F.col("toks"), lambda w: w.isin(LANG_MARKERS[lg]))).alias(f"s_{lg}")
        for lg in LANG_MARKERS
    ]
    scored = scored.select("doc_id", "labeled_lang", *score_cols)
    # argmax with deterministic preference order = LANG_MARKERS insertion order
    best = F.greatest(*[F.col(f"s_{lg}") for lg in LANG_MARKERS])
    pred = F.coalesce(
        *[F.when(F.col(f"s_{lg}") == best, F.lit(lg)) for lg in LANG_MARKERS]
    )
    return scored.select(
        "doc_id",
        "labeled_lang",
        pred.alias("pred_lang"),
        (pred == F.col("labeled_lang")).alias("agree"),
    )


_duck_lang_scores = ",\n".join(
    "len(list_filter(toks, w -> list_contains({m!r}, w))) AS s_{lg}".format(
        m=LANG_MARKERS[lg], lg=lg
    )
    for lg in LANG_MARKERS
)
_duck_best = "greatest(" + ", ".join(f"s_{lg}" for lg in LANG_MARKERS) + ")"
_duck_pred = "COALESCE(" + ", ".join(
    f"CASE WHEN s_{lg} = {_duck_best} THEN '{lg}' END" for lg in LANG_MARKERS
) + ")"

LANG_ID_SQL = f"""
WITH base AS (
  SELECT doc_id, lang AS labeled_lang,
         list_transform(list_filter(regexp_split_to_array(text, '[^\\p{{L}}]+'), w -> w <> ''),
                        w -> lower(w)) AS toks
  FROM documents
),
scored AS (
  SELECT doc_id, labeled_lang, {_duck_lang_scores}
  FROM base
)
SELECT doc_id, labeled_lang, {_duck_pred} AS pred_lang,
       ({_duck_pred} = labeled_lang) AS agree
FROM scored
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content digest + shingle fingerprint per document.

    ``fingerprint`` = min hash48 over 3-word shingles (a 1-permutation
    MinHash — robust to word-order-preserving edits far from the minimum),
    alongside the exact md5 digest and distinct-shingle cardinality.

    ONE narrow pass, zero shuffles (r14, remove the wide ops outright):
    every output value
    is a per-document property, so the old explode → groupBy(doc_id) →
    join-back-onto-docs plan (two corpus scans, one Exchange, one join)
    is computed instead as per-row array expressions over a
    Generate-bound token array — the explode(array(tokens)) binding
    keeps CollapseProject from inlining the tokenizer into the shingle
    lambda (the O(len²) re-tokenization hazard _bigram_edges documents;
    same staging trick as line_dedup_rewrite, r13). The min is over
    non-distinct shingles (duplicates can't change a min) and the
    cardinality distincts per-row. Interleaved A/B at sf0.1:
    1.06/1.10 → 0.74/0.75 s min/median (−30%), rows identical. At scale
    this removes the operator's only Exchange and its second corpus
    scan outright.
    """
    d = _docs(spark, sf_dir)
    d2 = d.select(
        "doc_id",
        F.md5("text").alias("content_hash"),
        F.explode(F.array(tokens(F.col("text")))).alias("t"),
    )
    shingles = F.when(
        F.size("t") >= 3,
        F.expr(
            "transform(sequence(1, size(t) - 2), i -> "
            "concat_ws(' ', element_at(t, i), element_at(t, i+1), "
            "element_at(t, i+2)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    # shingle array staged through a second Generate binding for the same
    # no-inline reason (two references below: min-hash and cardinality)
    d3 = d2.select(
        "doc_id", "content_hash", F.explode(F.array(shingles)).alias("sh")
    )
    return d3.select(
        "doc_id",
        "content_hash",
        # empty array -> null min / 0 count: the shingle-less-doc
        # contract the oracle's list_min(empty)/len(empty) pins
        F.array_min(
            F.expr(
                "transform(sh, s -> "
                "cast(conv(substring(md5(s), 1, 12), 16, 10) as long))"
            )
        ).alias("fingerprint"),
        F.size(F.array_distinct("sh")).cast("long").alias("n_shingles"),
    )


DOC_FINGERPRINT_SQL = f"""
WITH base AS (
  SELECT doc_id, text,
         list_distinct([array_to_string(t[i:i+2], ' ')
                        for i in range(1, len(t) - 1)]) AS sh
  FROM (SELECT doc_id, text,
               list_filter(regexp_split_to_array(text, '[^\\p{{L}}]+'), w -> w <> '') AS t
        FROM documents)
)
SELECT doc_id, md5(text) AS content_hash,
       list_min(list_transform(sh, s -> {duckdb_hash48('s')})) AS fingerprint,
       len(sh) AS n_shingles
FROM base
"""


QUERIES = {
    "token_stats": token_stats,
    "text_quality": text_quality,
    "lang_id": lang_id,
    "doc_fingerprint": doc_fingerprint,
}

ORACLES = {
    "token_stats": TOKEN_STATS_SQL,
    "text_quality": TEXT_QUALITY_SQL,
    "lang_id": LANG_ID_SQL,
    "doc_fingerprint": DOC_FINGERPRINT_SQL,
}


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document.

    tf = in-doc occurrences, idf = ln(N/df). Three aggregations, all
    partial-aggregated; df is a broadcast-sized side (vocabulary), so the
    join back to term counts never shuffles the corpus-sized side twice.
    Scores rounded to 9 dp (ln differs in the last ulp across libm
    implementations); rank tie-break on the term string.
    """
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    d = _docs(spark, sf_dir)
    # Corpus size as a 1-row broadcast cross join, NOT a d.count() action:
    # the count folds into the same job instead of costing a separate full
    # pass over documents.
    n = d.agg(F.count("*").cast("double").alias("n_docs"))
    terms = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(broadcast(df_), "term")
        .crossJoin(broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 9
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("doc_id", "term", "tf", "score", "rank")
    )


TFIDF_SQL = """
WITH terms AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), w -> w <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(tf.tf * ln((SELECT COUNT(*) FROM documents)::DOUBLE / df.df), 9) AS score
  FROM tf JOIN df ON tf.term = df.term
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, tf, score, rank FROM ranked WHERE rank <= 5
"""

QUERIES["tfidf_top_terms"] = tfidf_top_terms
ORACLES["tfidf_top_terms"] = TFIDF_SQL


def doc_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by content hash (80/10/10).

    The pipeline primitive for reproducible dataset splits: assignment is a
    pure function of content (hash48 mod 100), stable across reruns,
    partitioning, and cluster size — no RNG, no state. Grouping by content
    also sends exact duplicates to the same split (no train/test leakage
    from dupes).
    """
    d = _docs(spark, sf_dir)
    h = hash48(F.md5(F.col("text"))) % 100
    split = (
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    )
    return d.select("doc_id", split.alias("split"), h.cast("long").alias("bucket"))


DOC_SPLIT_SQL = f"""
SELECT doc_id,
       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
       b AS bucket
FROM (SELECT doc_id, {duckdb_hash48("md5(text)")} % 100 AS b FROM documents)
"""

QUERIES["doc_split_assign"] = doc_split_assign
ORACLES["doc_split_assign"] = DOC_SPLIT_SQL


def word_cooccurrence_pmi(
    spark: SparkSession,
    sf_dir: str,
    min_pairs: int = 50,
    max_df_frac: float = 0.9,
) -> DataFrame:
    """Top word-pair associations by PMI over document co-occurrence.

    PMI(a,b) = ln( p(a,b) / (p(a) p(b)) ) with document-level events:
    p(x) = docs containing x / N. Candidate pairs come from a same-doc
    equi-join on distinct (doc, word). Two scale guards:

    - **df ceiling**: words in more than ``max_df_frac`` of docs are
      excluded BEFORE the pair join — stop-words are exactly the keys whose
      pair fan-out is quadratic, and near-universal words carry PMI ~0, so
      the ceiling caps the join's hottest keys. 0.9 keeps the full top-k on
      the fixture corpus (its densest word hits 80% of docs); production
      corpora with true stop-words want 0.3-0.5.
    - **top-k via orderBy().limit()**: compiles to TakeOrderedAndProject
      (distributed per-partition top-k + small final merge), not a
      single-partition global window sort of every pair.

    The corpus count is folded into the plan as a 1-row broadcast cross
    join (no separate count() pass), and the per-word document frequencies
    ride THROUGH the pair join as grouping keys (df is functionally
    determined by the word) instead of being re-joined onto the aggregated
    pairs — one broadcast vocab join total, not three.
    """
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    d = _docs(spark, sf_dir)
    n = d.agg(F.count("*").cast("double").alias("n_docs"))
    dw = d.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("w")
    )
    df_ = dw.groupBy("w").agg(F.count("*").alias("df"))
    vocab = (
        df_.crossJoin(broadcast(n))
        .filter(F.col("df") <= F.lit(max_df_frac) * F.col("n_docs"))
        .select("w", "df")
    )
    dwv = dw.join(broadcast(vocab), "w")  # (w, doc_id, df)
    a = dwv.select("doc_id", F.col("w").alias("wa"), F.col("df").alias("df_a"))
    b = dwv.select("doc_id", F.col("w").alias("wb"), F.col("df").alias("df_b"))
    pairs = (
        a.join(b, ["doc_id"])
        .filter(F.col("wa") < F.col("wb"))
        .groupBy("wa", "wb", "df_a", "df_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= min_pairs)
    )
    pmi = F.round(
        F.log(
            (F.col("n_ab") / F.col("n_docs"))
            / ((F.col("df_a") / F.col("n_docs")) * (F.col("df_b") / F.col("n_docs")))
        ),
        9,
    )
    scored = (
        pairs.crossJoin(broadcast(n))
        .select("wa", "wb", "n_ab", pmi.alias("pmi"))
    )
    # TakeOrderedAndProject for the heavy lifting; the rank window then runs
    # over just the surviving 50 rows.
    top = scored.orderBy(F.desc("pmi"), F.asc("wa"), F.asc("wb")).limit(50)
    w = Window.orderBy(F.desc("pmi"), F.asc("wa"), F.asc("wb"))
    return top.withColumn("rank", F.row_number().over(w))


PMI_SQL = """
WITH dw AS (
  SELECT DISTINCT doc_id,
         unnest(list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), w -> w <> '')) AS w
  FROM documents
),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
df AS (SELECT w, COUNT(*) AS df FROM dw GROUP BY w),
vocab AS (SELECT w, df FROM df, n WHERE df <= 0.9 * n.n_docs),
dwc AS (SELECT dw.doc_id, dw.w FROM dw JOIN vocab ON dw.w = vocab.w),
pairs AS (
  SELECT a.w AS wa, b.w AS wb, COUNT(*) AS n_ab
  FROM dwc a JOIN dwc b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY 1, 2
  HAVING COUNT(*) >= 50
),
scored AS (
  SELECT wa, wb, n_ab,
         round(ln((n_ab / n.n_docs) / ((da.df / n.n_docs) * (db.df / n.n_docs))), 9) AS pmi
  FROM pairs, n
  JOIN vocab da ON da.w = wa
  JOIN vocab db ON db.w = wb
)
SELECT wa, wb, n_ab, pmi,
       ROW_NUMBER() OVER (ORDER BY pmi DESC, wa ASC, wb ASC) AS rank
FROM scored
QUALIFY rank <= 50
"""

QUERIES["word_cooccurrence_pmi"] = word_cooccurrence_pmi
ORACLES["word_cooccurrence_pmi"] = PMI_SQL


NGRAM_TOP = 20


def ngram_counts(spark: SparkSession, sf_dir: str, n: int = 2, k: int = NGRAM_TOP) -> DataFrame:
    """Top-k corpus n-grams by OCCURRENCE count (language-model-style counts).

    Companion to word_cooccurrence_pmi (frequency, not association; sliding
    window, not whole-doc events). posexplode keeps the token array in
    scope, so the n-gram is built by direct index (element_at(t, pos+k))
    in the SAME codegen stage as the explode (r14 — the r13 doc_shingles
    rewrite transplanted: the old window-lead form shuffled every raw
    token row through a doc_id Exchange + per-doc Sort just to read the
    next n−1 tokens; the per-document HOF transform stays rejected —
    interpreted, measured on the MinHash pipeline); one partial-aggregated
    shuffle on the n-gram; top-k via TakeOrderedAndProject, never a
    global window.
    """
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    toks = d.select(tokens(F.col("text")).alias("t")).select(
        "t", F.posexplode("t").alias("pos", "tok")
    )
    parts = [F.expr(f"element_at(t, pos + {i + 1})") for i in range(n)]
    grams = toks.filter(F.expr(f"pos + {n} <= size(t)")).select(
        F.concat_ws(" ", *parts).alias("ngram")
    )
    top = (
        grams.groupBy("ngram")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("ngram"))
        .limit(k)
    )
    rk = Window.orderBy(F.desc("n_occurrences"), F.asc("ngram"))
    return top.withColumn("rank", F.row_number().over(rk))


NGRAM_COUNTS_SQL = rf"""
WITH grams AS (
  SELECT unnest([array_to_string(t[i:i+1], ' ')
                 for i in range(1, len(t) - 1 + 1)]) AS ngram
  FROM (SELECT list_filter(regexp_split_to_array(text, '[^\p{{L}}]+'), w -> w <> '') AS t
        FROM documents)
  WHERE len(t) >= 2
),
counted AS (
  SELECT ngram, COUNT(*) AS n_occurrences FROM grams GROUP BY ngram
)
SELECT ngram, n_occurrences,
       ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, ngram ASC) AS rank
FROM counted
ORDER BY n_occurrences DESC, ngram ASC
LIMIT {NGRAM_TOP}
"""

QUERIES["ngram_counts"] = ngram_counts
ORACLES["ngram_counts"] = NGRAM_COUNTS_SQL


def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition signals + keep verdict.

    Corpus-build quality rules (Rae et al. 2021 §A1.1) flag documents
    dominated by repeated fragments. The fixture's documents are
    single-line, so the line-level rules specialize to token-level ones:
    the most frequent word's share, the most frequent bigram's share, and
    the type-token ratio. keep = top_word_frac <= 0.12 AND
    distinct_ratio >= 0.35 (thresholds bracket this corpus's medians, so
    the verdict actually splits).

    Plan shape: one posexplode, counts per (doc, gram) partially
    aggregated before the doc_id rollup — the bigram branch keeps the
    window-lead shingling ON PURPOSE (r14, measured): every consumer
    downstream of the window is keyed on doc_id, so the window's one
    hash(doc_id) Exchange satisfies the ClusteredDistribution of the
    (doc_id, bigram) count, the per-doc rollup AND the final join —
    it replaces exchanges instead of adding one. The element_at
    transplant that wins in ngram_counts/bigram_lm (where the gram
    feeds a GLOBAL aggregate and the doc_id exchange is pure waste)
    A/B'd SLOWER here: sf0.1 0.80/0.87 -> 0.98/1.06 min/med, sf1
    1.83/1.91 -> 1.93/2.11. Both branches end keyed on doc_id, so the
    final join co-partitions; nothing is collected. All ratios are
    binary64 divisions of exact integer counts — bit-identical
    cross-engine.

    r14 note (a rewrite is kept only if it measures faster; this one was
    rejected): a zero-shuffle per-row
    rewrite (sort each doc's token/bigram array, one aggregate() fold
    computing max-run = top count and run count = distinct count) was
    built, EQ-verified and A/B'd: sf0.1 0.66/0.72 -> 0.87/0.98 min/median
    (+30%, the interpreted per-token struct fold costs more than the two
    cheap exchanges), sf1 ~tie (1.33/1.70 -> 1.31/1.59). Reverted; the
    fold-form only wins where the removed wide ops are expensive relative
    to per-element lambda evaluation (cf. doc_fingerprint, which also
    dropped a join + second corpus scan and DID win).
    """
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok"))
    word_counts = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    per_doc_words = word_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_word"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = (
        toks.select(
            "doc_id",
            F.concat_ws(" ", F.col("tok"), F.lead("tok", 1).over(w)).alias("bigram"),
            F.lead("tok", 1).over(w).alias("_tail"),
        )
        .filter(F.col("_tail").isNotNull())
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("c"))
    )
    per_doc_bigrams = bigrams.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram")
    )
    top_word_frac = F.col("top_word") / F.col("n_tokens").cast("double")
    distinct_ratio = F.col("n_distinct") / F.col("n_tokens").cast("double")
    top_bigram_frac = F.col("top_bigram") / F.greatest(
        F.col("n_bigrams"), F.lit(1)
    ).cast("double")
    return (
        per_doc_words.join(per_doc_bigrams, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.round(top_word_frac, 9).alias("top_word_frac"),
            F.round(distinct_ratio, 9).alias("distinct_ratio"),
            F.round(top_bigram_frac, 9).alias("top_bigram_frac"),
            ((top_word_frac <= 0.12) & (distinct_ratio >= 0.35)).alias("keep"),
        )
    )


REPETITION_FILTER_SQL = r"""
WITH base AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '[^\p{L}]+'), w -> w <> '') AS ts
  FROM documents
),
toks AS (
  SELECT doc_id, ts[pos] AS tok, pos
  FROM base, unnest(generate_series(1, len(ts))) AS u(pos)
),
word_counts AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2
),
per_doc_words AS (
  SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_distinct, MAX(c) AS top_word
  FROM word_counts GROUP BY doc_id
),
bigrams AS (
  SELECT doc_id, bigram, COUNT(*) AS c
  FROM (SELECT doc_id,
               tok || ' ' || LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram,
               LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS _tail
        FROM toks)
  WHERE _tail IS NOT NULL
  GROUP BY 1, 2
),
per_doc_bigrams AS (
  SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bigram FROM bigrams GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(w.n_tokens AS BIGINT) AS n_tokens,
       round(w.top_word / CAST(w.n_tokens AS DOUBLE), 9) AS top_word_frac,
       round(w.n_distinct / CAST(w.n_tokens AS DOUBLE), 9) AS distinct_ratio,
       round(b.top_bigram / CAST(GREATEST(b.n_bigrams, 1) AS DOUBLE), 9) AS top_bigram_frac,
       (w.top_word / CAST(w.n_tokens AS DOUBLE) <= 0.12
        AND w.n_distinct / CAST(w.n_tokens AS DOUBLE) >= 0.35) AS keep
FROM per_doc_words w LEFT JOIN per_doc_bigrams b ON w.doc_id = b.doc_id
"""

QUERIES["repetition_filter"] = repetition_filter
ORACLES["repetition_filter"] = REPETITION_FILTER_SQL


# --- PII scrubbing -----------------------------------------------------------
#
# Redaction is a standard pass in a training-data pipeline (emails, phone
# numbers, IPs out of the corpus before the model memorizes them). The
# fixture text is synthetic and contains no PII, so the query FIRST welds a
# deterministic PII suffix onto each document (same expression in both
# engines) and THEN scrubs it — the regexes are exercised on every row and
# the oracle hash fails if either engine's redaction semantics drift.
# Patterns stay inside the Java-regex ∩ RE2 common dialect (no lookarounds,
# no backrefs) so Spark (java.util.regex) and DuckDB (RE2) agree.
#
# Scale shape: pure per-row string expressions — JVM codegen, no shuffle,
# no UDF. At 100 TB this is a map-only pass that pipelines with the scan.

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+1-[0-9]{3}-[0-9]{4}"
_PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails, phone numbers and IPv4 addresses; count each kind."""
    d = _docs(spark, sf_dir)
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
    )
    with_pii = d.select("doc_id", synth.alias("raw"))
    scrubbed = (
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("raw"), _PII_EMAIL, "<EMAIL>"),
                _PII_PHONE,
                "<PHONE>",
            ),
            _PII_IP,
            "<IP>",
        )
    )
    return with_pii.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
    ).select(
        "doc_id",
        "scrubbed",
        (F.size(F.split(F.col("scrubbed"), "<EMAIL>", -1)) - 1).alias("n_emails"),
        (F.size(F.split(F.col("scrubbed"), "<PHONE>", -1)) - 1).alias("n_phones"),
        (F.size(F.split(F.col("scrubbed"), "<IP>", -1)) - 1).alias("n_ips"),
    )


PII_SCRUB_SQL = f"""
WITH with_pii AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example or +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
              || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS raw
  FROM documents
),
scrub AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(raw, '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g'),
           '{_PII_IP}', '<IP>', 'g') AS scrubbed
  FROM with_pii
)
SELECT doc_id, scrubbed,
       CAST(len(string_split(scrubbed, '<EMAIL>')) - 1 AS INTEGER) AS n_emails,
       CAST(len(string_split(scrubbed, '<PHONE>')) - 1 AS INTEGER) AS n_phones,
       CAST(len(string_split(scrubbed, '<IP>')) - 1 AS INTEGER) AS n_ips
FROM scrub
"""

QUERIES["pii_scrub"] = pii_scrub
ORACLES["pii_scrub"] = PII_SCRUB_SQL


# --- PageRank over the word co-occurrence graph ------------------------------
#
# The third iterative-algorithm family after k-means (similarity.py) and
# connected components (dedup.py): rank propagation on a weighted directed
# graph. Nodes are words, edges are bigrams (a -> b) weighted by corpus
# count. Like kmeans_clusters, ALL arithmetic is integer (ranks scaled by
# 1e9, floor division everywhere) so the DuckDB oracle replays the
# iterations bit-for-bit — floating-point PageRank cannot be hash-compared
# across engines, integer PageRank can. Dangling mass is dropped (the
# standard simplification) identically in both engines.
#
# Scale shape per iteration: contribs = edges ⋈ ranks (equi-join on src) ⋈
# out-weights, then one partial-aggregated shuffle on dst. Edges/ranks are
# keyed tables; on a real cluster both sides pre-partition on the join key
# once and every iteration reuses that partitioning. No driver collects.

PAGERANK_SCALE = 1_000_000_000
PAGERANK_ITERS = 2


def _bigram_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # zip_with over two slices, NOT element_at(toks, i) inside a transform
    # lambda: CollapseProject inlines the `toks` expression into every
    # element access, re-running the regex tokenizer per element — O(len^2)
    # splits per document (measured 6.7 s vs 0.6 s for 931 edges at sf0.1).
    # zip_with evaluates each input array once per row.
    d = _docs(spark, sf_dir)
    toks = tokens(F.col("text"))
    pairs = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    return (
        d.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("w"))
    )


def word_pagerank(
    spark: SparkSession, sf_dir: str, iters: int = PAGERANK_ITERS
) -> DataFrame:
    """Integer PageRank (damping 0.85) over the bigram graph, ``iters`` steps.

    r13 (hoist loop-invariant work out of the loop): the out-weight is a
    property of the EDGE LIST, not
    of the iteration — join it onto the edges ONCE before the loop
    (w/ow ride the same row), instead of re-running the groupBy("a") +
    second join inside every iteration; ``nodes`` is likewise reused
    iters+1 times. Per iteration that removes one aggregation and one
    join (plan: 2 fewer Exchanges per step); the contribution arithmetic
    is unchanged so ranks are bit-identical.

    r14 (materialize a reused relation once, and release it): both
    reused relations materialize via
    ``localCheckpoint(eager=True)`` instead of ``.cache()`` — the caches
    were never unpersisted (a leaked InMemoryRelation per call for any
    library caller; the exact class q11 fixed in r12), and the columnar
    cache's encode/decode per reference costs more than checkpoint
    blocks here anyway: interleaved A/B min/median 2.38/2.90 →
    1.35/1.72 s at sf0.1, 3.28/3.35 → 1.85/2.09 s at sf1, ranks
    bit-identical. Blocks are freed by the ContextCleaner when the
    returned frame is dropped; unreplicated-block executor-loss
    tradeoff as documented on q11.
    """
    edges = _bigram_edges(spark, sf_dir)
    ew = (
        edges.join(edges.groupBy("a").agg(F.sum("w").alias("ow")), "a")
        .select("a", "b", "w", "ow")
        .localCheckpoint(eager=True)
    )
    nodes = (
        ew.select(F.col("a").alias("word"))
        .unionByName(ew.select(F.col("b").alias("word")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ranks = nodes.select("word", F.lit(PAGERANK_SCALE).cast("long").alias("rank"))
    for _ in range(iters):
        contribs = (
            ew.join(ranks, ew["a"] == ranks["word"])
            .select(
                F.col("b").alias("word"),
                F.expr("(rank * w) div ow").alias("c"),
            )
            .groupBy("word")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contribs, "word", "left")
            .select(
                "word",
                (
                    F.lit(15 * PAGERANK_SCALE // 100)
                    + F.expr(f"(85 * coalesce(s, 0L)) div 100")
                ).cast("long").alias("rank"),
            )
        )
    return ranks


_PR_TOKS = "list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), w -> w <> '')"

WORD_PAGERANK_SQL = f"""
WITH tl AS (SELECT {_PR_TOKS} AS t FROM documents),
bigr AS (
  SELECT unnest(list_transform(range(1, len(t)), i -> {{'a': t[i], 'b': t[i + 1]}}),
                recursive := true)
  FROM tl WHERE len(t) >= 2
),
edges AS (SELECT a, b, COUNT(*) AS w FROM bigr GROUP BY a, b),
nodes AS (SELECT a AS word FROM edges UNION SELECT b FROM edges),
outw AS (SELECT a, SUM(w) AS ow FROM edges GROUP BY a),
r0 AS (SELECT word, CAST({PAGERANK_SCALE} AS BIGINT) AS rank FROM nodes),
c1 AS (
  SELECT e.b AS word, SUM((r.rank * e.w) // o.ow) AS s
  FROM edges e JOIN r0 r ON r.word = e.a JOIN outw o ON o.a = e.a
  GROUP BY e.b
),
r1 AS (
  SELECT n.word,
         CAST({15 * PAGERANK_SCALE // 100} + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank
  FROM nodes n LEFT JOIN c1 c ON n.word = c.word
),
c2 AS (
  SELECT e.b AS word, SUM((r.rank * e.w) // o.ow) AS s
  FROM edges e JOIN r1 r ON r.word = e.a JOIN outw o ON o.a = e.a
  GROUP BY e.b
),
r2 AS (
  SELECT n.word,
         CAST({15 * PAGERANK_SCALE // 100} + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank
  FROM nodes n LEFT JOIN c2 c ON n.word = c.word
)
SELECT word, rank FROM r2
"""

QUERIES["word_pagerank"] = word_pagerank
ORACLES["word_pagerank"] = WORD_PAGERANK_SQL


# --- Model-based quality scoring ---------------------------------------------
#
# FineWeb-style "classifier quality filter": a linear model over the
# quality signals, squashed to (0,1). The squash is the RATIONAL sigmoid
# 0.5 + 0.5 * z / (1 + |z|), not 1/(1+exp(-z)): +, *, /, abs are IEEE-exact
# and engine-identical, while exp() is libm-dependent and can differ in the
# last ulp between the JVM and DuckDB — a hash-gate hazard for zero
# modeling benefit. Weights are a broadcast constant vector (at scale: a
# one-row dimension table or literal, map-only pass).

QUALITY_MODEL_WEIGHTS = {
    "bias": -1.0,
    "alpha_ratio": 2.0,
    "stopword_ratio": 1.5,
    "avg_word_len": -0.1,
}


def quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality model score per document (rational sigmoid, 9 dp)."""
    w = QUALITY_MODEL_WEIGHTS
    feats = text_quality(spark, sf_dir)
    z = (
        F.lit(w["bias"])
        + F.lit(w["alpha_ratio"]) * F.col("alpha_ratio")
        + F.lit(w["stopword_ratio"]) * F.col("stopword_ratio")
        + F.lit(w["avg_word_len"]) * F.col("avg_word_len")
    )
    score = F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))
    return feats.select(
        "doc_id",
        F.round(score, 9).alias("model_score"),
        (F.round(score, 9) >= 0.5).alias("keep"),
    )


_W = QUALITY_MODEL_WEIGHTS
QUALITY_MODEL_SQL = f"""
WITH feats AS ({{base}})
SELECT doc_id,
       round(0.5 + 0.5 * z / (1 + abs(z)), 9) AS model_score,
       (round(0.5 + 0.5 * z / (1 + abs(z)), 9) >= 0.5) AS keep
FROM (
  SELECT doc_id,
         {_W['bias']} + {_W['alpha_ratio']} * alpha_ratio
            + {_W['stopword_ratio']} * stopword_ratio
            + {_W['avg_word_len']} * avg_word_len AS z
  FROM feats
)
""".format(base=TEXT_QUALITY_SQL)

QUERIES["quality_model_score"] = quality_model_score
ORACLES["quality_model_score"] = QUALITY_MODEL_SQL


# --- BM25 retrieval scoring --------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS = ["spark", "query", "join", "stream"]
BM25_TOP_N = 20


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N documents by BM25 against a fixed query-term set.

    The retrieval scorer next to tfidf_top_terms: idf = ln((N - df + 0.5) /
    (df + 0.5) + 1) (the Robertson-Sparck Jones form Lucene uses), tf
    saturation k1=1.2, length normalization b=0.75. Same engine-parity
    posture as TF-IDF/PMI: ln is last-ulp-stable across both engines on
    these magnitudes and the score rounds to 9 dp before ranking.

    Plan: the query-term set is a broadcast literal; tf and per-doc length
    are partial-aggregated; df is vocabulary-sized and broadcast; top-N is
    TakeOrderedAndProject. The corpus is never shuffled twice.
    """
    from pyspark.sql.functions import broadcast

    d = _docs(spark, sf_dir)
    n = d.agg(F.count("*").cast("double").alias("n_docs"))
    terms = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    doclen = terms.groupBy("doc_id").agg(F.count("*").alias("dl"))
    avgdl = doclen.agg(F.avg("dl").alias("avgdl"))
    qterms = [t.lower() for t in BM25_QUERY_TERMS]
    tf = (
        terms.filter(F.lower(F.col("term")).isin(qterms))
        .groupBy("doc_id", F.lower(F.col("term")).alias("term"))
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    contrib = (
        tf.join(broadcast(df_), "term")
        .join(broadcast(doclen), "doc_id")
        .crossJoin(broadcast(n))
        .crossJoin(broadcast(avgdl))
        .select(
            "doc_id",
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * (BM25_K1 + 1))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("c"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(F.round(F.sum("c"), 9).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(BM25_TOP_N)
    )


_BM25_TERMS_SQL = ", ".join(f"'{t.lower()}'" for t in BM25_QUERY_TERMS)

BM25_SQL = f"""
WITH terms AS (
  SELECT doc_id, lower(unnest({_PR_TOKS})) AS term FROM documents
),
doclen AS (SELECT doc_id, COUNT(*) AS dl FROM terms GROUP BY doc_id),
stats AS (
  SELECT (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents) AS n_docs,
         (SELECT AVG(dl) FROM doclen) AS avgdl
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms
  WHERE term IN ({_BM25_TERMS_SQL})
  GROUP BY doc_id, term
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
contrib AS (
  SELECT tf.doc_id,
         ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
           * (tf.tf * ({BM25_K1} + 1))
           / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl)) AS c
  FROM tf JOIN df ON tf.term = df.term
  JOIN doclen dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
)
SELECT doc_id, round(SUM(c), 9) AS bm25
FROM contrib GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC
LIMIT {BM25_TOP_N}
"""

QUERIES["bm25_scores"] = bm25_scores
ORACLES["bm25_scores"] = BM25_SQL


# Count-min sketch heavy hitters ----------------------------------------------
#
# The mergeable-sketch family (companion to relational.sketch_distinct_accuracy
# / sketch_percentile_accuracy): frequency estimation under a fixed memory
# budget. At 100 TB the exact per-token count table is vocabulary-sized (fine),
# but a CMS is O(d*w) REGARDLESS of vocabulary — the shape you want when the
# key space explodes (URLs, n-grams, user agents). d*w = 4*512 counters here.

CMS_D = 4    # hash rows
CMS_W = 512  # counters per row
CMS_TOP = 20


def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-token detection with a count-min sketch, differentially
    checked against exact counts.

    The sketch is built from the partial-aggregated count table (bucket
    count = sum of counts of tokens hashing there — identical, by
    linearity, to counting the raw occurrence stream, without paying the
    4x explode on the full stream). Every hash is the md5-derived
    :func:`hash48` both engines compute, so the DuckDB oracle reproduces
    the ESTIMATES bit-for-bit, not just the exact counts — the
    ``never_undercounts`` CMS invariant is then a checked contract, like
    sketch_distinct_accuracy's 5%% gate.

    Scale shape: one token-count shuffle (partial-agg), then the bucket
    table is <= d*w = 2048 rows — broadcast back for the min-over-rows
    estimate. No global sort: top-k via TakeOrderedAndProject.
    """
    d = _docs(spark, sf_dir)
    cnt = (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("exact_count"))
    )
    seeded = cnt.select(
        "tok",
        "exact_count",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("seed"),
    ).withColumn(
        "bucket",
        hash48(F.concat_ws(":", F.col("seed").cast("string"), F.col("tok")))
        % CMS_W,
    )
    buckets = seeded.groupBy("seed", "bucket").agg(
        F.sum("exact_count").alias("bucket_count")
    )
    est = (
        seeded.join(F.broadcast(buckets), ["seed", "bucket"])
        .groupBy("tok", "exact_count")
        .agg(F.min("bucket_count").alias("cms_estimate"))
    )
    top = est.orderBy(
        F.desc("exact_count"), F.asc("tok")
    ).limit(CMS_TOP)
    return top.select(
        "tok",
        "exact_count",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_count")).alias("overcount"),
        (F.col("cms_estimate") >= F.col("exact_count")).alias(
            "never_undercounts"
        ),
    )


_CMS_HASH = duckdb_hash48("CAST(seed AS VARCHAR) || ':' || tok")

HEAVY_HITTERS_CMS_SQL = rf"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(text, '[^\p{{L}}]+'),
                            w -> w <> '')) AS tok
  FROM documents
),
cnt AS (SELECT tok, COUNT(*) AS exact_count FROM toks GROUP BY tok),
seeded AS (
  SELECT tok, exact_count, seed, ({_CMS_HASH}) % {CMS_W} AS bucket
  FROM cnt, (SELECT unnest(range({CMS_D})) AS seed)
),
buckets AS (
  SELECT seed, bucket, CAST(SUM(exact_count) AS BIGINT) AS bucket_count
  FROM seeded GROUP BY seed, bucket
),
est AS (
  SELECT s.tok, s.exact_count, MIN(b.bucket_count) AS cms_estimate
  FROM seeded s JOIN buckets b USING (seed, bucket)
  GROUP BY s.tok, s.exact_count
)
SELECT tok, exact_count, cms_estimate,
       cms_estimate - exact_count AS overcount,
       cms_estimate >= exact_count AS never_undercounts
FROM est
ORDER BY exact_count DESC, tok ASC
LIMIT {CMS_TOP}
"""

QUERIES["heavy_hitters_cms"] = heavy_hitters_cms
ORACLES["heavy_hitters_cms"] = HEAVY_HITTERS_CMS_SQL


# Bigram language-model table --------------------------------------------------

BIGRAM_LM_TOP = 30


def bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional-probability table: P(w2 | w1) for the most frequent
    transitions — the count-normalize join every n-gram LM build runs.

    Differs from ngram_counts (raw occurrence counts) by the per-context
    normalization: pair counts joined to their context totals. The context
    totals are vocabulary-sized, which at 100 TB is typically ~1e6-1e8 rows
    — too big to ASSUME broadcastable, so this uses a plain shuffle join on
    w1; both sides are already partial-aggregated, so the join input is
    counts, never the raw stream. Top-k via TakeOrderedAndProject.
    Bigrams by direct index over the in-scope token array (r14 — no
    window Exchange+Sort; see ngram_counts).
    """
    d = _docs(spark, sf_dir)
    toks = d.select(tokens(F.col("text")).alias("t")).select(
        "t", F.posexplode("t").alias("pos", "w1")
    )
    pairs = toks.filter(F.expr("pos + 2 <= size(t)")).select(
        "w1", F.expr("element_at(t, pos + 2)").alias("w2")
    )
    pair_cnt = pairs.groupBy("w1", "w2").agg(F.count("*").alias("pair_count"))
    ctx_cnt = pair_cnt.groupBy("w1").agg(
        F.sum("pair_count").alias("context_count")
    )
    return (
        pair_cnt.join(ctx_cnt, "w1")
        .select(
            "w1",
            "w2",
            "pair_count",
            "context_count",
            F.round(
                F.col("pair_count") / F.col("context_count").cast("double"), 9
            ).alias("cond_p"),
        )
        .orderBy(F.desc("pair_count"), F.asc("w1"), F.asc("w2"))
        .limit(BIGRAM_LM_TOP)
    )


BIGRAM_LM_SQL = rf"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '[^\p{{L}}]+'),
                             w -> w <> '') AS t
  FROM documents
),
pairs AS (
  SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
  FROM toks WHERE len(t) >= 2
),
pair_cnt AS (
  SELECT w1, w2, COUNT(*) AS pair_count FROM pairs GROUP BY w1, w2
),
ctx_cnt AS (
  SELECT w1, CAST(SUM(pair_count) AS BIGINT) AS context_count
  FROM pair_cnt GROUP BY w1
)
SELECT p.w1, p.w2, p.pair_count, c.context_count,
       round(p.pair_count / CAST(c.context_count AS DOUBLE), 9) AS cond_p
FROM pair_cnt p JOIN ctx_cnt c ON p.w1 = c.w1
ORDER BY p.pair_count DESC, p.w1 ASC, p.w2 ASC
LIMIT {BIGRAM_LM_TOP}
"""

QUERIES["bigram_lm"] = bigram_lm
ORACLES["bigram_lm"] = BIGRAM_LM_SQL


# Triangle counting over the co-occurrence graph -------------------------------

TRIANGLE_TOP = 20


def word_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-word triangle participation in the undirected bigram graph —
    the standard graph-cohesion primitive (clustering-coefficient
    numerator), counted with the degree-oriented wedge join.

    Each undirected edge is oriented from its (degree, name)-smaller
    endpoint to the larger one; every triangle then has EXACTLY one wedge
    u->v->w with (u,v),(v,w),(u,w) all oriented, so one wedge equi-join
    plus one edge-membership equi-join counts each triangle once. Degree
    orientation is what makes this survive scale-up: a hub of degree d
    contributes wedges only through its few HIGHER-degree neighbors, so
    wedge fan-out is bounded by arboricity (O(E^1.5) worst case) instead
    of the O(d^2) a naive neighbor-pair expansion pays per hub. No cross
    joins, no collects; the triangle set explodes to its 3 corners for
    the per-word rollup; top-k via TakeOrderedAndProject.
    """
    edges = _bigram_edges(spark, sf_dir)
    und = (
        edges.filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("n"))
        .unionByName(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    ranked = (
        und.join(deg.withColumnRenamed("n", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("deg", "dv"), "v")
    )
    lt = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(lt, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lt, F.col("v")).otherwise(F.col("u")).alias("d"),
    )
    # Materialize the oriented edge list ONCE (r11): e1/e2/e3 reference it
    # three times, and without a checkpoint each reference drags the whole
    # corpus-tokenize -> bigram-group -> distinct -> degree-join subtree
    # back into the plan (measured: 18 parquet scans / 53 Exchanges, only
    # 7 AQE-reused). The edge list is vocabulary-bounded (|V|^2 worst
    # case, in practice ~distinct bigrams) — tiny next to the corpus at
    # every scale, so executor-resident blocks are the right trade at
    # 100 TB too, exactly like word_pagerank's cached edges.
    oriented = oriented.localCheckpoint(eager=True)
    e1 = oriented.select(F.col("s").alias("x"), F.col("d").alias("y"))
    e2 = oriented.select(F.col("s").alias("y"), F.col("d").alias("z"))
    e3 = oriented.select(F.col("s").alias("x"), F.col("d").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    corners = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n_triangles"))
    )
    return corners.orderBy(
        F.desc("n_triangles"), F.asc("word")
    ).limit(TRIANGLE_TOP)


WORD_TRIANGLES_SQL = rf"""
WITH tl AS (SELECT {{toks}} AS t FROM documents),
bigr AS (
  SELECT unnest(list_transform(range(1, len(t)), i -> {{{{'a': t[i], 'b': t[i + 1]}}}}),
                recursive := true)
  FROM tl WHERE len(t) >= 2
),
und AS (
  SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
  FROM bigr WHERE a <> b
),
deg AS (
  SELECT n, COUNT(*) AS deg FROM (
    SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und
  ) GROUP BY n
),
oriented AS (
  SELECT CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.u ELSE e.v END AS s,
         CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.v ELSE e.u END AS d
  FROM und e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n
),
tri AS (
  SELECT e1.s AS x, e1.d AS y, e2.d AS z
  FROM oriented e1
  JOIN oriented e2 ON e1.d = e2.s
  JOIN oriented e3 ON e3.s = e1.s AND e3.d = e2.d
),
corners AS (
  SELECT word, COUNT(*) AS n_triangles FROM (
    SELECT x AS word FROM tri
    UNION ALL SELECT y AS word FROM tri
    UNION ALL SELECT z AS word FROM tri
  ) GROUP BY word
)
SELECT word, n_triangles FROM corners
ORDER BY n_triangles DESC, word ASC
LIMIT {TRIANGLE_TOP}
""".format(toks=_PR_TOKS)

QUERIES["word_triangles"] = word_triangles
ORACLES["word_triangles"] = WORD_TRIANGLES_SQL


# CCNet-style LM perplexity filter ---------------------------------------------

LM_NLL_KEEP = 9.0  # keep docs whose avg negative log-likelihood is below this


def lm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality filtering, the CCNet recipe: train a bigram
    LM on a reference slice (doc_id % 2 == 0), score every other document
    by average negative log-likelihood under it, keep the fluent ones.

    Add-one smoothing over the reference vocabulary so unseen bigrams get
    finite mass: p(w2|w1) = (c(w1,w2) + 1) / (c(w1.) + V). All counts are
    exact integers; ln and the 9-dp rounding follow the BM25 precedent for
    cross-engine float stability.

    Scale shape: the LM is two partial-aggregated count tables; scoring is
    an equi-join of the documents' bigram stream against them (count-sided
    — the stream joins counts, counts never join the stream twice), then a
    per-doc rollup riding doc_id. V and the reference corpus are
    vocabulary-bounded, not corpus-bounded. Bigrams unseen even at the
    context level use c(w1.) = 0 — the formula stays total. Bigrams by
    direct index over the in-scope token array (r14 — no window
    Exchange+Sort per half-corpus; see ngram_counts).
    """
    d = _docs(spark, sf_dir)
    is_ref = F.col("doc_id") % 2 == 0

    def bigrams(docs):
        toks = docs.select("doc_id", tokens(F.col("text")).alias("t")).select(
            "doc_id", "t", F.posexplode("t").alias("pos", "w1")
        )
        return toks.filter(F.expr("pos + 2 <= size(t)")).select(
            "doc_id", "w1", F.expr("element_at(t, pos + 2)").alias("w2")
        )

    ref_bi = bigrams(d.filter(is_ref))
    pair_cnt = ref_bi.groupBy("w1", "w2").agg(F.count("*").alias("pc"))
    ctx_cnt = pair_cnt.groupBy("w1").agg(F.sum("pc").alias("cc"))
    # V as a broadcast one-row scalar, not a driver .count(): the plan stays
    # a single DAG with zero driver actions before the final collect
    vocab = ref_bi.agg(F.count_distinct("w2").alias("v"))

    sc_bi = bigrams(d.filter(~is_ref))
    scored = (
        sc_bi.join(pair_cnt, ["w1", "w2"], "left")
        .join(ctx_cnt, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            (
                -F.log(
                    (F.coalesce("pc", F.lit(0)) + 1)
                    / (F.coalesce("cc", F.lit(0)) + F.col("v")).cast("double")
                )
            ).alias("nll"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("nll"), 9).alias("avg_nll"),
    )
    return (
        d.filter(~is_ref)
        .select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "avg_nll",
            F.coalesce(F.col("avg_nll") <= LM_NLL_KEEP, F.lit(True)).alias(
                "keep"
            ),
        )
    )


LM_PERPLEXITY_SQL = rf"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '[^\p{{L}}]+'),
                             w -> w <> '') AS t
  FROM documents
),
ref_bi AS (
  SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
  FROM toks WHERE doc_id % 2 = 0 AND len(t) >= 2
),
pair_cnt AS (SELECT w1, w2, COUNT(*) AS pc FROM ref_bi GROUP BY w1, w2),
ctx_cnt AS (SELECT w1, CAST(SUM(pc) AS BIGINT) AS cc FROM pair_cnt GROUP BY w1),
vocab AS (SELECT COUNT(DISTINCT w2) AS v FROM ref_bi),
sc_bi AS (
  SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
  FROM toks WHERE doc_id % 2 <> 0 AND len(t) >= 2
),
scored AS (
  SELECT s.doc_id,
         -ln((COALESCE(p.pc, 0) + 1)
             / CAST(COALESCE(c.cc, 0) + (SELECT v FROM vocab) AS DOUBLE)) AS nll
  FROM sc_bi s
  LEFT JOIN pair_cnt p ON s.w1 = p.w1 AND s.w2 = p.w2
  LEFT JOIN ctx_cnt c ON s.w1 = c.w1
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_bigrams, round(AVG(nll), 9) AS avg_nll
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_bigrams, 0) AS n_bigrams,
       p.avg_nll,
       COALESCE(p.avg_nll <= {LM_NLL_KEEP}, TRUE) AS keep
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 <> 0) d
LEFT JOIN per_doc p ON p.doc_id = d.doc_id
"""

QUERIES["lm_perplexity_filter"] = lm_perplexity_filter
ORACLES["lm_perplexity_filter"] = LM_PERPLEXITY_SQL
