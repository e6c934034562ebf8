"""Deduplication suite for large-scale training-data pipelines.

The reference's map-side hash-set dedup (indexer app,
/root/reference/src/mrapps/indexer.go:21-25) is the seed idea: dedup is a
grouping problem. These operators scale it to corpus-level document
deduplication, the shape a 100 TB text pipeline needs:

- exact dedup        — hash-groupBy on content digest (one shuffle)
- MinHash + LSH      — shingle -> minhash signature -> banded bucket join;
                       candidate pairs only, never the full O(n^2) cross join
- SimHash            — 48-bit signatures; block-LSH join (pigeonhole: d<=3
                       errors across 4 blocks leaves one block exact), then
                       hamming verify via bit_count(xor)
- n-gram Jaccard     — exact set similarity via shared-shingle equi-join
- embedding near-dup — cosine pairs over the embeddings table (lives in
                       operators.similarity: brute-force + IVF-cell variants)

Cross-engine determinism: every hash is the md5-derived 48-bit
``functions.hash48`` which the DuckDB oracles recompute exactly, so even the
sketch-based operators are differentially tested, not just row-counted.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import duckdb_hash48, hash48, tokens
from ..session import scoped_confs
from ..sources import table

SHINGLE_N = 3
NUM_PERM = 16
LSH_BANDS = 4  # 4 bands x 4 rows
# affine permutation family over Z_2^48: odd multiplier (bijection) + offset;
# A_p < 2^15 keeps A_p * h < 2^63 so both engines stay in exact int64 range
PERM_COEFFS = [
    (4097 + 2 * p, ((p + 1) * 2654435761) % (1 << 31)) for p in range(NUM_PERM)
]
SIMHASH_BITS = 48
SIMHASH_BLOCKS = 4
SIMHASH_MAX_DIST = 3

# DuckDB expression fragments -------------------------------------------------

_DUCK_TOKS = "list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), w -> w <> '')"
# 1-based inclusive slices: t[i:i+n-1] is n consecutive tokens.
# range() end is exclusive: starts run 1..len-n+1 (1-based), end = len-(n-1)+1.
_DUCK_SHINGLES = (
    "[array_to_string(t[i:i+{nm1}], ' ') for i in range(1, len(t) - {nm1} + 1)]"
).format(nm1=SHINGLE_N - 1)

DUCK_DOC_SHINGLES = f"""
  SELECT doc_id, unnest(list_distinct({_DUCK_SHINGLES})) AS shingle
  FROM (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents)
  WHERE len(t) >= {SHINGLE_N}
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "documents")


def doc_shingles(
    docs: DataFrame, n: int = SHINGLE_N, cluster_by_doc: bool = False
) -> DataFrame:
    """Distinct (doc_id, shingle) pairs — the unit set for Jaccard/MinHash.

    posexplode keeps the token ARRAY in scope, so the n-gram is built by
    direct index (element_at(t, pos+k)) in the SAME codegen stage as the
    explode — no shuffle at all until the distinct. r13 (remove a wide
    shuffle outright): the
    previous formulation shuffled every raw token row through a
    doc_id-window (partitionBy doc_id ORDER BY pos + lead()) just to see
    the next n-1 tokens, paying a full-corpus Exchange + per-doc sort
    before the distinct; building the shingle from the array removes that
    wide shuffle outright (measured through the full LSH pipeline at
    sf0.1: 1.78 -> 1.20 s, identical pairs). The per-document
    higher-order-function form (array_distinct over an n-gram transform)
    stays rejected — HOFs evaluate interpreted and measured 4.24 s on the
    same A/B. The distinct's Exchange now carries (doc_id, shingle) with
    map-side partial dedup (duplicates of a doc's shingle are all in its
    scan partition), and downstream groupBy(doc_id) consumers pay one
    narrow Exchange of partially-aggregated rows instead of riding the
    window's partitioning — strictly fewer full-corpus shuffle bytes.

    ``cluster_by_doc=True`` dedups via groupBy(doc_id) + collect_set +
    explode instead of the flat distinct: one Exchange keyed on doc_id
    whose OUTPUT rows stay doc-clustered. Same pairs (set semantics ==
    distinct; downstream consumers are aggregations/joins, so intra-set
    order is immaterial; per-doc set memory is bounded by one document's
    shingle count — but note this bound lives in a collect_set aggregation
    buffer that CANNOT spill mid-group, unlike the old per-doc window
    sort which could: one pathological giant document risks executor OOM
    here. Acceptable for the capped-pipeline caller below; an untrusted
    corpus should pre-truncate documents upstream).
    dedup_ngram_jaccard passes this: it CACHES the pair set and
    self-joins it, and the flat distinct's hash-scattered row order cost
    its self-join ~0.4 s in exchange compression/sort locality
    (interleaved A/B: flat 2.84 s vs clustered 2.42 s, vs 4.42 s for the
    r12 window form); for minhash/decontamination consumers the flat
    distinct measured faster (1.32 vs 1.44 s through LSH), so it stays
    the default.
    """
    toks = docs.select(
        "doc_id", tokens(F.col("text")).alias("t")
    ).select("doc_id", "t", F.posexplode("t").alias("pos", "tok"))
    parts = [F.expr(f"element_at(t, pos + {k + 1})") for k in range(n)]
    sh = toks.filter(F.expr(f"pos + {n} <= size(t)")).select(
        "doc_id", F.concat_ws(" ", *parts).alias("shingle")
    )
    if cluster_by_doc:
        return (
            sh.groupBy("doc_id")
            .agg(F.collect_set("shingle").alias("ss"))
            .select("doc_id", F.explode("ss").alias("shingle"))
        )
    return sh.distinct()


# 1. Exact dedup ---------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by content digest.

    Group on md5(text) rather than text itself so the shuffle carries 16-byte
    keys, not document bodies — at 100 TB that is the difference between
    shuffling digests and shuffling the corpus.
    """
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


# 2. MinHash + LSH -------------------------------------------------------------

def minhash_wide(docs: DataFrame) -> DataFrame:
    """(doc_id, m0..m{NUM_PERM-1}): NUM_PERM affine permutations of hash48.

    One md5 per shingle; the NUM_PERM permutations are affine maps
    h_p = (A_p*h + B_p) mod 2^48 with odd A_p (a bijection on Z_2^48),
    pure integer arithmetic both engines reproduce exactly — 16x fewer
    md5 evaluations than salting the hash input per permutation.
    Wide aggregation: NUM_PERM min() columns in one codegen pass with
    map-side partials; the shuffle carries one wide row per (partition,
    doc).
    """
    sh = doc_shingles(docs)
    hashed = sh.select("doc_id", hash48(F.col("shingle")).alias("h"))
    mins = [
        F.min(F.expr(f"({a} * h + {b}) & {(1 << 48) - 1}")).alias(f"m{p}")
        for p, (a, b) in enumerate(PERM_COEFFS)
    ]
    return hashed.groupBy("doc_id").agg(*mins)


def _lsh_bands(wide: DataFrame) -> DataFrame:
    """(doc_id, sig_full, band, sig): banded LSH index rows for a wide
    signature table — the full signature rides along so the Jaccard
    estimate never needs a join back to a signature table."""
    rpb = NUM_PERM // LSH_BANDS
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",", *[F.col(f"m{b * rpb + i}").cast("string") for i in range(rpb)]
                )
            ).alias("sig"),
        )
        for b in range(LSH_BANDS)
    ]
    return wide.select(
        "doc_id",
        F.array(*[F.col(f"m{p}") for p in range(NUM_PERM)]).alias("sig_full"),
        F.explode(F.array(*band_structs)).alias("bs"),
    ).select(
        "doc_id", "sig_full", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def _lsh_pair_scores(index: DataFrame, join_cols: list[str]) -> DataFrame:
    """Candidate self-join on ``join_cols`` + Jaccard-estimate scoring —
    the tail shared by the unsalted ((band, sig)) and salted
    ((band, sig, chunk)) LSH operators. The full signature rides the join
    as an array column, so the estimate is a zip_with over the matched
    pair — no join back to a signature table."""
    import functools
    import operator as op

    a, b = index.alias("a"), index.alias("b")
    cond = functools.reduce(
        op.and_, [F.col(f"a.{c}") == F.col(f"b.{c}") for c in join_cols]
    )
    n_eq = F.size(
        F.filter(
            F.zip_with(F.col("sa"), F.col("sb"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    return (
        a.join(b, cond)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig_full").alias("sa"),
            F.col("b.sig_full").alias("sb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .select(
            "doc_a", "doc_b", (n_eq / F.lit(float(NUM_PERM))).alias("est_jaccard")
        )
        .filter(F.col("est_jaccard") >= 0.5)
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH.

    Bands of 4 rows: docs sharing any band signature become candidates
    (bucket equi-join on the band digest — no cross join anywhere), then the
    estimated Jaccard (fraction of equal minhashes) filters at 0.5. Bucket
    skew (a degenerate band shared by many docs) is the known hazard at
    scale; AQE skew-join handles moderate cases, the band digest keeps
    join keys small, and :func:`dedup_minhash_lsh_salted` is the
    structurally-capped form for pathological corpora.

    Plan economy: the whole operator is ONE aggregation + ONE self-join
    (see _lsh_pair_scores — the former long-format formulation cost 2
    extra shuffles re-joining signatures onto candidates).
    """
    return _lsh_pair_scores(
        _lsh_bands(minhash_wide(_docs(spark, sf_dir))), ["band", "sig"]
    )


_DUCK_COEFFS = ", ".join(f"({p}, {a}, {b})" for p, (a, b) in enumerate(PERM_COEFFS))

# Shared oracle fragments: the shingle->minhash->bands prefix and the
# candidate-scoring tail are identical between the unsalted and salted
# forms; only the `cand` CTE (the join keys) differs. Composition keeps
# the assembled strings byte-identical to the pre-refactor literals.
_DUCK_LSH_PREFIX = f"""WITH sh AS ({DUCK_DOC_SHINGLES}),
hashed AS (SELECT doc_id, {duckdb_hash48("shingle")} AS h FROM sh),
mh AS (
  SELECT doc_id, perm, MIN((a * h + b) & {(1 << 48) - 1}) AS minhash
  FROM hashed, (VALUES {_DUCK_COEFFS}) AS coeffs(perm, a, b)
  GROUP BY doc_id, perm
),
bands AS (
  SELECT doc_id, perm // {NUM_PERM // LSH_BANDS} AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY perm)) AS sig
  FROM mh GROUP BY doc_id, band
)"""

_DUCK_LSH_SCORE = f"""SELECT doc_a, doc_b,
       SUM(CASE WHEN ma.minhash = mb.minhash THEN 1 ELSE 0 END) / {float(NUM_PERM)} AS est_jaccard
FROM cand
JOIN mh ma ON ma.doc_id = doc_a
JOIN mh mb ON mb.doc_id = doc_b AND ma.perm = mb.perm
GROUP BY doc_a, doc_b
HAVING est_jaccard >= 0.5"""

DEDUP_MINHASH_SQL = f"""
{_DUCK_LSH_PREFIX},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
  WHERE a.doc_id < b.doc_id
)
{_DUCK_LSH_SCORE}
"""


# Occupancy-capped (salted) LSH: bound on the per-join-group size. The cap
# is DELIBERATELY tiny (2) so the real fixtures — whose largest band bucket
# holds 3-4 docs — exercise the split path under the driver's oracle gate;
# at 100 TB you would raise it to O(1000) (pair fan-out per bucket stays
# C(cap+1, 2) ~ 5*10^5, trivially executor-sized) — the invariant that
# matters is that NO bucket can go quadratic in its occupancy.
LSH_BUCKET_CAP = 2


def lsh_salted_keyed(bands: DataFrame, cap: int = LSH_BUCKET_CAP) -> DataFrame:
    """Band-index rows re-keyed as (band, sig, chunk) with per-chunk size
    bound ``cap`` (+1 for the chained head — see below).

    Bucket members are ranked by doc_id (deterministic, oracle-replayable)
    and cut into chunks of ``cap``; every chunk HEAD additionally joins the
    previous chunk, so an oversized bucket becomes a CHAIN of small cliques
    instead of one quadratic clique — connected-components collapse still
    unifies the whole bucket transitively, but the candidate join emits
    O(k * cap) pairs for a k-doc bucket, never O(k^2). The extra window is
    one shuffle on (band, sig) — the exact key the candidate join shuffles
    on anyway.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("band", "sig").orderBy("doc_id")
    chunk = F.expr(f"(rn - 1) div {cap}")
    is_head = (F.expr(f"(rn - 1) % {cap}") == 0) & (F.col("rn") > 1)
    return (
        bands.withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id",
            "sig_full",
            "band",
            "sig",
            F.explode(
                F.when(is_head, F.array(chunk, chunk - 1)).otherwise(F.array(chunk))
            ).alias("chunk"),
        )
    )


def dedup_minhash_lsh_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with degenerate-band salting — the
    100 TB-hardened form of :func:`dedup_minhash_lsh`.

    Same banded index, but candidates join on (band, sig, chunk) via
    :func:`lsh_salted_keyed`: a pathological bucket (millions of identical
    boilerplate docs sharing one band signature) is chunked to ``cap``
    members, chain-linked through chunk heads, and can no longer emit an
    O(k^2) pair explosion — the skew hazard ``lsh_band_occupancy`` reports
    is structurally capped instead of merely observed. Output is a subset
    of the unsalted operator's pairs (equal whenever no bucket exceeds the
    cap); within-chunk pairs carry the identical est_jaccard since the
    full signature rides the join unchanged.

    Reference analog: the same no-partition-may-grow-unbounded reasoning
    as shard balance in /root/reference/src/shardctrler/common.go:1-20
    (shards spread "as evenly as possible" across groups) and the fixed
    ihash(key) %% NReduce spread of /root/reference/src/mr/worker.go:23-26
    — here applied to a join key instead of a task bucket.
    """
    return _lsh_pair_scores(
        lsh_salted_keyed(_lsh_bands(minhash_wide(_docs(spark, sf_dir)))),
        ["band", "sig", "chunk"],
    )


DEDUP_MINHASH_SALTED_SQL = f"""
{_DUCK_LSH_PREFIX},
ranked AS (
  SELECT doc_id, band, sig,
         ROW_NUMBER() OVER (PARTITION BY band, sig ORDER BY doc_id) - 1 AS rn
  FROM bands
),
keyed AS (
  SELECT doc_id, band, sig, rn // {LSH_BUCKET_CAP} AS chunk FROM ranked
  UNION ALL
  SELECT doc_id, band, sig, rn // {LSH_BUCKET_CAP} - 1 AS chunk FROM ranked
  WHERE rn % {LSH_BUCKET_CAP} = 0 AND rn > 0
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM keyed a JOIN keyed b
    ON a.band = b.band AND a.sig = b.sig AND a.chunk = b.chunk
  WHERE a.doc_id < b.doc_id
)
{_DUCK_LSH_SCORE}
"""


# 3. SimHash -------------------------------------------------------------------

def _md5_bits_hash(col, bits: int):
    """``bits``-wide md5-derived token hash (generalizes functions.hash48).

    bits must be a multiple of 4 (whole hex digits) and <= 60 so the conv()
    result stays in exact signed-int64 range. Only the 48-bit form has a
    DuckDB twin (duckdb_hash48's double reconstruction is exact to 2^53);
    wider signatures are Spark-only and covered by the brute-force
    differential test instead of the SQL oracle.
    """
    if bits % 4 != 0 or not 0 < bits <= 60:
        raise ValueError(f"bits must be a multiple of 4 in (0, 60], got {bits}")
    return F.conv(F.substring(F.md5(col), 1, bits // 4), 16, 10).cast("long")


def simhash_signatures(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """``bits``-wide frequency-weighted SimHash per document.

    bit_j(sig) = 1 iff sum over token *occurrences* of (2*bit_j(hash(tok)) -
    1) > 0 — i.e. each term contributes with weight = its frequency, the
    standard SimHash weighting. (A distinct-token variant collapses on this
    corpus: short docs over a small shared vocabulary produce thousands of
    identical signatures.)
    """
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    th = toks.select("doc_id", _md5_bits_hash(F.col("tok"), bits).alias("h"))
    # One wide aggregation (``bits`` sum columns) instead of exploding
    # each token into ``bits`` rows: all bit extractions are flat codegen
    # expressions and partial sums cross the shuffle as a single row per
    # (partition, doc).
    bit_sums = [
        F.sum(F.expr(f"(shiftright(h, {j}) & 1) * 2 - 1")).alias(f"s{j}")
        for j in range(bits)
    ]
    sig_terms = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN shiftleft(1L, {j}) ELSE 0L END)"
        for j in range(bits)
    )
    return (
        th.groupBy("doc_id")
        .agg(*bit_sums)
        .select("doc_id", F.expr(sig_terms).alias("simhash"))
    )


def dedup_simhash(
    spark: SparkSession,
    sf_dir: str,
    bits: int = SIMHASH_BITS,
    blocks: int = SIMHASH_BLOCKS,
    max_dist: int = SIMHASH_MAX_DIST,
) -> DataFrame:
    """Near-duplicate pairs with SimHash hamming distance <= ``max_dist``.

    Block-LSH makes it scale: the ``bits``-bit signature splits into
    ``blocks`` equal blocks; any pair within distance ``max_dist`` <= blocks
    - 1 shares at least one exact block (pigeonhole), so candidates come
    from ``blocks`` equi-joins on (block_id, block_value) instead of an
    all-pairs scan. Verification is a single bit_count(xor) per candidate.

    Sizing for corpus scale: expected bucket size is n / 2^(bits/blocks),
    so the 48/4 default (12-bit blocks) buckets n/4096 — fine to ~10M docs;
    a 100 TB corpus wants e.g. bits=60, blocks=5 (n/4096 at 3x the
    signature entropy) or blocks=6 with a recall bump. The 48/4 default is
    the oracle-checked configuration.
    """
    if bits % blocks != 0:
        raise ValueError(f"blocks must divide bits: {bits} % {blocks} != 0")
    if max_dist >= blocks:
        raise ValueError(
            f"pigeonhole needs max_dist < blocks, got {max_dist} >= {blocks}"
        )
    sig = simhash_signatures(_docs(spark, sf_dir), bits=bits).cache()
    block_bits = bits // blocks
    blocks_df = sig.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(blocks - 1))).alias("blk"),
    ).withColumn(
        "blk_val",
        F.expr(f"shiftright(simhash, blk * {block_bits}) & {(1 << block_bits) - 1}"),
    )
    a, b = blocks_df.alias("a"), blocks_df.alias("b")
    out = (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.blk_val") == F.col("b.blk_val")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_dist)
        # eager so the signature cache can be released before returning
        # (no session-lifetime cache is left behind): the pair list is the
        # final near-dup output — tiny next to the corpus — and callers
        # collect it anyway. Interleaved A/B: perf-neutral at sf0.1 and
        # sf1 (within the ±0.2 s session noise), leak gone.
        .localCheckpoint(eager=True)
    )
    sig.unpersist()
    return out


DEDUP_SIMHASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
),
th AS (SELECT doc_id, {duckdb_hash48("tok")} AS h FROM toks),
bits AS (
  SELECT doc_id, bit, SUM(((h // (1::BIGINT << bit)) & 1) * 2 - 1) AS s
  FROM th, (SELECT unnest(range({SIMHASH_BITS})) AS bit)
  GROUP BY doc_id, bit
),
sig AS (
  SELECT doc_id, SUM(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS simhash
  FROM bits GROUP BY doc_id
),
blocks AS (
  SELECT doc_id, simhash, blk,
         (simhash // (1::BIGINT << (blk * {SIMHASH_BITS // SIMHASH_BLOCKS})))
           & {(1 << (SIMHASH_BITS // SIMHASH_BLOCKS)) - 1} AS blk_val
  FROM sig, (SELECT unnest(range({SIMHASH_BLOCKS})) AS blk)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.blk_val = b.blk_val
WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_DIST}
"""


# 4. Exact n-gram Jaccard ------------------------------------------------------

# A shingle appearing in more documents than this is boilerplate (license
# headers, navigation chrome): its pair fan-out is quadratic in df and its
# evidentiary value for near-duplication is nil. Candidate pairs must share
# at least one shingle UNDER the ceiling; the Jaccard itself is still
# computed on FULL shingle sets, so emitted values are exact.
NGRAM_DF_CEILING = 1000

# Broadcast the rare-shingle set only while the documents table is at most
# this many on-disk bytes (see the strategy comment in dedup_ngram_jaccard;
# measured r8: broadcast wins at 0.6 MB, merge wins from 6 MB, broadcast
# OOMs at 59 MB).
NGRAM_BROADCAST_MAX_DOC_BYTES = 2 << 20


def _docs_bytes(spark: SparkSession, sf_dir: str) -> int:
    """Data bytes of the documents table (single file or part dir).

    Goes through the Hadoop FileSystem resolved from ``sf_dir``'s own
    scheme (fsutil.du_suffix_bytes, like every other size gate), so the
    join-strategy gate below works for any URI the cluster can read — not
    just driver-local POSIX paths (an ``os.stat`` probe returns the same
    number but only exists on the driver's mount) — and a part dir's
    ``_SUCCESS``/``.crc`` files do not count. Pinned equal to the
    driver-local stat at local paths by tests/test_fsutil.py.
    """
    from ..fsutil import du_suffix_bytes

    return du_suffix_bytes(
        spark, os.path.join(sf_dir, "documents.parquet"), ".parquet"
    )


def _ngram_capped_byshingle(
    spark: SparkSession, sf_dir: str, df_ceiling: int | None
) -> tuple[DataFrame, DataFrame]:
    """LAZY per-shingle sorted doc lists over the df-capped shingle set:
    (shingle, ds) where ds is the ascending doc_id list of every document
    containing the shingle, restricted to shingles in at most
    ``df_ceiling`` documents.

    Exposed un-materialized so tests (and plan dumps) can pin the inner
    plan shape — dedup_ngram_jaccard localCheckpoints the result, which
    hides this subtree behind an ExistingRDD scan in the returned frame.

    The collect_list buffer is bounded by ``df_ceiling`` doc_ids per group
    (the groups ARE the capped document lists), so the non-spillable
    object-aggregation hazard the flat cluster_by_doc dedup carries does
    not apply here; with ``df_ceiling=None`` the buffer is unbounded (the
    documented uncapped contract).

    Returns ``(byshingle, sh)``: the lazy frame and the still-cached raw
    shingle set it reads — the caller must unpersist ``sh`` once the lists
    are materialized.
    """
    # cluster_by_doc: doc-clustered dedup measured fastest here for the
    # cache this operator immediately re-aggregates (see doc_shingles)
    sh = doc_shingles(_docs(spark, sf_dir), cluster_by_doc=True).cache()
    if df_ceiling is None:
        sh_capped = sh
    else:
        # sh is distinct (doc_id, shingle), so count(*) is document frequency
        rare = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= df_ceiling)
            .select("shingle")
        )
        # Size-gated join strategy (r8, same shape as the brute/IVF gate in
        # similarity.py): the rare side is ~every distinct shingle (most
        # clear a df ceiling), i.e. it GROWS with the corpus — so neither
        # strategy is right at every scale, and AQE can't be trusted to
        # pick (it prices broadcasts on COMPRESSED shuffle bytes; at the
        # 100x fixture the low-entropy shingle strings compressed ~10x,
        # stayed "under" 64 MB, and the deserialized hash relation blew the
        # local-mode heap it shares with the cached shingle set). Gate on
        # the documents table's on-disk bytes, which the shingle set tracks
        # linearly and which costs one stat() to know:
        #   - small corpus -> explicit broadcast: measured 2.7 s vs SMJ's
        #     4.6 s at sf0.1 (0.6 MB docs) — the ~2 s r7 paid every driver
        #     bench to protect the 100x case.
        #   - large corpus -> merge hint: measured crossover is BELOW the
        #     10x fixture already (6 MB docs: SMJ 7.3 s vs broadcast
        #     8.4 s), and the SMJ's shingle partitioning is exactly what
        #     the byshingle aggregation below needs, so it adds no new
        #     Exchange; at 100x broadcast OOMs outright.
        # Threshold 2 MB: above the whole driver-SF family (<=0.6 MB),
        # ~3x below the measured merge-wins point, ~30x below the OOM point.
        if _docs_bytes(spark, sf_dir) <= NGRAM_BROADCAST_MAX_DOC_BYTES:
            rare_side = F.broadcast(rare)
        else:
            rare_side = rare.hint("merge")
        sh_capped = sh.join(rare_side, "shingle")
    byshingle = sh_capped.groupBy("shingle").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    return byshingle, sh


def dedup_ngram_jaccard(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    df_ceiling: int = NGRAM_DF_CEILING,
) -> DataFrame:
    """Exact word-shingle Jaccard similarity join (>= threshold).

    Candidate generation by shared shingle (a pair with Jaccard >= t
    shares at least one shingle), enumerated per shingle from the
    materialized doc lists — see _ngram_capped_byshingle. The whole
    computation — candidate pairs, intersection count, AND set sizes —
    runs over the shingle set restricted to shingles in at most
    ``df_ceiling`` documents: the self-defending cap on the quadratic
    hot-shingle fan-out, mirroring the PMI df ceiling
    (textstats.word_cooccurrence_pmi). The emitted jaccard is therefore
    the EXACT Jaccard of the sub-ceiling shingle sets — the better
    near-dup metric anyway, since corpus-hot shingles are boilerplate
    (license headers, chrome) that inflates similarity without evidencing
    duplication. On any corpus where no shingle crosses the ceiling (the
    fixtures) this equals plain Jaccard bit-for-bit. Keeping sizes on the
    same capped universe keeps both branches reading ONE materialized
    relation — restricting only candidates and re-joining full sets
    re-explodes as |candidates| x |doc shingles| (measured 7x slower at
    sf0.1).

    The output column is named ``capped_jaccard`` so the df-capped contract
    is visible at call sites; pass ``df_ceiling=None`` for plain Jaccard
    over full shingle sets (no fan-out protection — only safe on corpora
    known to lack boilerplate shingles).
    """
    # Materialize the per-shingle doc lists ONCE (r14, never evaluate
    # one subtree twice):
    # Spark performs no common-subexpression elimination across a plan
    # tree, so when both the candidate branch and the sizes branch hung
    # off sh_capped, the rare aggregation AND the capped join executed
    # TWICE per query (phase-profiled at sf1: the sizes branch alone
    # re-paid ~5 s of a ~11 s query). byshingle is eagerly
    # localCheckpointed, so both branches scan the materialized lists,
    # and the cached raw shingle set can be unpersisted immediately —
    # no session-lifetime cache leak. Unreplicated
    # checkpoint blocks trade executor-loss recompute for plan
    # truncation, the same tradeoff q11 documents.
    byshingle, sh_cached = _ngram_capped_byshingle(spark, sf_dir, df_ceiling)
    byshingle = byshingle.localCheckpoint(eager=True)
    sh_cached.unpersist()
    # per-doc capped set sizes, from the SAME materialized lists (df=1
    # singleton shingles still count toward n — only the pair branch
    # filters them out)
    sizes = (
        byshingle.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    # Candidate pairs by per-shingle enumeration, not a self-join (r14,
    # remove one side of a join outright): emit each ordered pair once per shared shingle via
    # posexplode + slice — the classic MapReduce pairs pattern. vs the
    # r7-r13 a⋈b shingle self-join this removes one whole side of the
    # join (its exchange read + sort/hash build); the only wide operation
    # left before the (doc_a, doc_b) count is the one groupBy(shingle)
    # inside byshingle. Generate(posexplode/explode) and slice() are
    # codegen expressions — no interpreted HOF on the hot path.
    # sort_array gives ascending doc lists, so doc_a < doc_b falls out of
    # enumerating only the tail beyond each element's own position.
    pairs = (
        byshingle.filter(F.size("ds") >= 2)
        .select(F.posexplode("ds").alias("i", "doc_a"), "ds")
        .select(
            "doc_a",
            F.explode(F.expr("slice(ds, i + 2, size(ds) - i - 1)")).alias(
                "doc_b"
            ),
        )
    )
    inter = pairs.groupBy("doc_a", "doc_b").agg(F.count("*").alias("shared"))
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("shared")
                / (F.col("sa.n") + F.col("sb.n") - F.col("shared")).cast("double")
            ).alias("capped_jaccard"),
        )
        .filter(F.col("capped_jaccard") >= threshold)
    )


DEDUP_NGRAM_SQL = f"""
WITH sh AS ({DUCK_DOC_SHINGLES}),
rare AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {NGRAM_DF_CEILING}
),
shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare ON sh.shingle = rare.shingle),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       shared / CAST(sa.n + sb.n - shared AS DOUBLE) AS capped_jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE shared / CAST(sa.n + sb.n - shared AS DOUBLE) >= 0.8
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_lsh_salted": dedup_minhash_lsh_salted,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
}

ORACLES = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_minhash_lsh": DEDUP_MINHASH_SQL,
    "dedup_minhash_lsh_salted": DEDUP_MINHASH_SALTED_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "dedup_ngram_jaccard": DEDUP_NGRAM_SQL,
}


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest exact dedup: a new batch against the standing corpus.

    The shape a production pipeline actually runs daily: not "dedup the
    corpus" but "which INCOMING documents are new?". The fixture splits
    deterministically — doc_id % 10 == 0 is the incoming batch, the rest is
    the standing corpus. Each incoming doc gets a verdict:

    - ``dup_of_corpus``  — content digest already in the corpus (left-semi
      shape via the digest join);
    - ``dup_in_batch``   — first occurrence wins inside the batch (window
      on digest, ordered by doc_id);
    - ``new``            — reaches the corpus.

    Plan: both sides reduce to 16-byte digests BEFORE the join (shuffle
    carries digests, never bodies) and the corpus side aggregates to
    distinct digests — at 100 TB the standing-corpus digest set is exactly
    the bloom-filter/digest-index a real pipeline maintains; the join is
    its degenerate-but-exact form.
    """
    d = _docs(spark, sf_dir)
    incoming = d.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.md5("text").alias("digest")
    )
    corpus_digests = (
        d.filter(F.col("doc_id") % 10 != 0)
        .select(F.md5("text").alias("digest"))
        .distinct()
        .withColumn("in_corpus", F.lit(True))
    )
    from pyspark.sql import Window as W

    first_in_batch = F.row_number().over(
        W.partitionBy("digest").orderBy("doc_id")
    )
    verdict = (
        F.when(F.col("in_corpus"), "dup_of_corpus")
        .when(F.col("rn") > 1, "dup_in_batch")
        .otherwise("new")
    )
    return (
        incoming.join(corpus_digests, "digest", "left")
        .withColumn("rn", first_in_batch)
        .select("doc_id", verdict.alias("verdict"))
    )


DEDUP_INCREMENTAL_SQL = """
WITH incoming AS (
  SELECT doc_id, md5(text) AS digest FROM documents WHERE doc_id % 10 = 0
),
corpus AS (
  SELECT DISTINCT md5(text) AS digest FROM documents WHERE doc_id % 10 <> 0
),
ranked AS (
  SELECT i.doc_id,
         c.digest IS NOT NULL AS in_corpus,
         ROW_NUMBER() OVER (PARTITION BY i.digest ORDER BY i.doc_id) AS rn
  FROM incoming i LEFT JOIN corpus c ON i.digest = c.digest
)
SELECT doc_id,
       CASE WHEN in_corpus THEN 'dup_of_corpus'
            WHEN rn > 1 THEN 'dup_in_batch'
            ELSE 'new' END AS verdict
FROM ranked
"""

QUERIES["dedup_incremental"] = dedup_incremental
ORACLES["dedup_incremental"] = DEDUP_INCREMENTAL_SQL


def fuzzy_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join: supplier-name pairs within edit
    distance 1, via deletion-neighborhood blocking (the SymSpell scheme).

    Naive edit-distance joins are O(n^2) with a non-equi predicate (a
    nested loop at any scale). Deletion neighborhoods make it an EQUI-join:
    each name emits itself plus its len(s) single-character-deletion
    variants, and any two strings within distance 1 (substitution,
    insertion, or deletion) provably share at least one variant — a
    substitution at position i collides on both names' delete-at-i
    variants; an inserted character collides on the longer name's deletion
    variant. Candidates then verify with one levenshtein() call. Fan-out is
    len+1 rows per name — linear, shuffled on short variant strings — and
    the verify touches candidates only. Distance > 1 would emit deeper
    deletion neighborhoods (SymSpell generalizes); 1 is the contract here.
    """
    supp = _t_supplier(spark, sf_dir)
    variants = supp.select(
        "s_name",
        F.explode(
            F.array_union(
                F.expr(
                    "transform(sequence(1, length(s_name)), i -> "
                    "concat(substring(s_name, 1, i - 1), "
                    "substring(s_name, i + 1, length(s_name))))"
                ),
                F.array(F.col("s_name")),
            )
        ).alias("v"),
    )
    a, b = variants.alias("a"), variants.alias("b")
    cand = (
        a.join(b, F.col("a.v") == F.col("b.v"))
        .filter(F.col("a.s_name") < F.col("b.s_name"))
        .select(
            F.col("a.s_name").alias("name_a"), F.col("b.s_name").alias("name_b")
        )
        .distinct()
    )
    dist = F.levenshtein("name_a", "name_b")
    return cand.select(
        "name_a", "name_b", dist.cast("int").alias("dist")
    ).filter(F.col("dist") <= 1)


def _t_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "supplier")


FUZZY_NAME_SQL = """
WITH vars AS (
  SELECT s_name,
         unnest(list_append(
           [substr(s_name, 1, i - 1) || substr(s_name, i + 1, length(s_name))
            for i in range(1, length(s_name) + 1)],
           s_name)) AS v
  FROM supplier
),
cand AS (
  SELECT DISTINCT a.s_name AS name_a, b.s_name AS name_b
  FROM vars a JOIN vars b ON a.v = b.v
  WHERE a.s_name < b.s_name
)
SELECT name_a, name_b, CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
FROM cand
WHERE levenshtein(name_a, name_b) <= 1
"""

QUERIES["fuzzy_name_matches"] = fuzzy_name_matches
ORACLES["fuzzy_name_matches"] = FUZZY_NAME_SQL


MAX_DRIVER_EDGES = 100_000  # a candidate graph this small is union-found on
# the driver in one collect (few MB); the iterative-join path is the scale
# route for bigger graphs


def _union_find_labels(pairs) -> dict[int, int]:
    """Driver-side union-find; label = min node id per component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _star_components(sym: DataFrame, max_rounds: int = 60) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond") — the O(log^2 d)
    deep-graph route min-label propagation falls back to.

    Each round is two grouped self-joins over the current edge set:

    - large-star: per node u with m = min(neighborhood(u) + {u}), every
      STRICTLY LARGER neighbor v > u re-links to m — long chains fold
      toward small ids from every node at once, which is what beats the
      one-hop-per-iteration propagation on high-diameter graphs;
    - small-star: per node u over its smaller-or-equal neighbors, all of
      them plus u re-link to the minimum — flattening partial stars.

    Convergence = canonical edge set stable (count + xxhash64 checksum;
    labels at the fixpoint are exactly the star centers, so every node
    carries ONE label and the output contract matches the min-label path:
    (node, label = min node id of the component)). Input must be the
    symmetric, self-loop-free edge set.

    Scale: every step is groupBy(min) + one equi-join — the same shuffle
    shape as one min-label iteration, but the round count is O(log^2 d)
    instead of O(d). Reference analog: the reference's reduce groups
    contiguous keys after the sort (/root/reference/src/mr/worker.go:93) —
    each star round is that same group-and-fold applied to a shrinking
    edge relation.
    """

    def canonical(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    edges = canonical(
        sym.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    ).localCheckpoint(eager=True)

    def checksum(df: DataFrame):
        # sum in decimal(38,0): a long sum of xxhash64 values overflows
        # (ArithmeticException under ANSI mode)
        return df.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        ).first()

    prev = checksum(edges)
    for _ in range(max_rounds):
        # large-star over the symmetric view: m(u) = min(neighbors + u)
        s = edges.select("a", "b").union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins = s.groupBy("a").agg(F.min("b").alias("mn"))
        mins = mins.select(
            "a", F.least(F.col("mn"), F.col("a")).alias("m")
        )
        large = (
            s.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        edges = canonical(large).localCheckpoint(eager=True)

        # small-star over larger->smaller edges: u and all its smaller
        # neighbors re-link to the smallest of them
        e = edges  # canonical already has a > b
        mins2 = e.groupBy("a").agg(F.min("b").alias("mn"))
        nbrs = (
            e.join(mins2, "a")
            .filter(F.col("b") != F.col("mn"))
            .select(F.col("b").alias("a"), F.col("mn").alias("b"))
        )
        selfs = mins2.select("a", F.col("mn").alias("b"))
        edges = canonical(nbrs.union(selfs)).localCheckpoint(eager=True)

        cur = checksum(edges)
        if (cur.n, cur.h) == (prev.n, prev.h):
            break
        prev = cur
    else:
        raise RuntimeError(
            f"large-star/small-star did not converge in {max_rounds} rounds "
            "— not expected for any graph (bound is O(log^2 diameter)); "
            "raise max_rounds"
        )
    # fixpoint edges are stars: (node a, component-min b)
    centers = edges.select(F.col("b").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    members = edges.select(F.col("a").alias("node"), F.col("b").alias("label"))
    return members.union(centers).distinct()


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    driver_threshold: int = MAX_DRIVER_EDGES,
) -> DataFrame:
    """Connected components over an undirected edge list (src, dst).

    Returns (node, cluster_id=min node id in the component). Tiered like
    the near-dup scorers: the candidate graph is usually MUCH smaller than
    the corpus, so up to ``driver_threshold`` edges it is union-found on
    the driver in one collect (one job instead of ~10 tiny iteration jobs).
    Beyond that, distributed min-label propagation: per iteration one join
    + one aggregation; labels only ever decrease, so convergence is checked
    with a cheap sum(label) aggregate; localCheckpoint truncates iteration
    lineage. Iterations needed = component diameter — near-dup clusters
    are shallow, so min-label wins the common case; if a graph's diameter
    exceeds ``max_iter``, it falls back to large-star/small-star
    (:func:`_star_components`, O(log^2 d) rounds) instead of failing.

    All paths produce identical output (asserted in tests/test_sampling.py
    and tests/test_star_components.py).

    NOT thread-safe: the driver-tier probe overrides
    ``spark.sql.limit.initialNumPartitions`` on the SESSION conf through
    ``session.scoped_confs``, so any concurrent query on the same
    SparkSession that issues a ``limit`` during the probe inherits the 2^20
    override. Registry/bench harnesses run single-threaded; a
    caller composing this from parallel code should bypass the probe
    (``driver_threshold=0``), or run it through a session clone —
    ``spark.newSession()`` gets its own SQLConf, but the
    DataFrame must then be re-derived against that session for the
    override to apply to its jobs.
    """
    edges = edges.select("src", "dst")
    if driver_threshold > 0:
        # Driver-tier probe in ONE job: limit(threshold+1) both sizes the
        # graph AND (when small) hands over every edge — replacing the
        # r11 shape's three jobs (eager localCheckpoint + count + collect)
        # whose fixed overhead dominated dedup_clusters at bench SFs
        # (~1 s of the entry's 2.5 s was CC job overhead, r12 bisect).
        # initialNumPartitions must cover ALL partitions for the probe:
        # CollectLimit's default incremental scheduling (1 partition,
        # then 4x more per retry) RE-RUNS the expensive upstream pair
        # pipeline's final stage on every retry — invisible at sf0.1,
        # a 5x blowup on dedup_clusters at sf1 (16.9 s vs 3.4 prior,
        # caught by this round's own sf1 bench trail). One job over all
        # partitions evaluates the pipeline exactly once; the per-
        # partition LocalLimit still caps driver transfer at
        # (threshold+1) x n_partitions narrow rows for oversize graphs.
        # When the probe overflows, the prefix is discarded and the
        # distributed tiers below pay one extra evaluation — the
        # small-graph case is the overwhelmingly common one for near-dup
        # candidate graphs, which are far sparser than the corpus.
        spark = edges.sparkSession
        limit_conf = {"spark.sql.limit.initialNumPartitions": str(1 << 20)}
        with scoped_confs(spark, limit_conf):
            probe = edges.limit(driver_threshold + 1).collect()
        if len(probe) <= driver_threshold:
            labels = _union_find_labels((r.src, r.dst) for r in probe)
            return spark.createDataFrame(
                sorted(labels.items()), schema="node long, label long"
            )
    # materialize the edge list ONCE — the symmetric union below would
    # otherwise re-evaluate the (expensive) upstream pair pipeline twice
    edges = edges.localCheckpoint(eager=True)
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sym = sym.distinct().localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]
    converged = False
    for _ in range(max_iter):
        neigh = (
            sym.join(labels, sym.src == labels.node)
            .groupBy(F.col("dst").alias("node2"))
            .agg(F.min("label").alias("nlabel"))
        )
        labels = (
            labels.join(neigh, labels.node == F.col("node2"), "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint(eager=True)
        )
        new_sum = labels.agg(F.sum("label")).first()[0]
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # the last pass still lowered labels: components with diameter >
        # max_iter exist, and returning now would emit WRONG cluster ids.
        # Returning half-merged clusters is never acceptable; hand the
        # graph to large-star/small-star, whose round count is O(log^2 d)
        # instead of O(d) — the deep-diameter regime is exactly where it
        # wins, so the fallback terminates where this loop could not.
        return _star_components(sym)
    return labels


def dedup_clusters(spark: SparkSession, sf_dir: str, threshold: float = 0.5) -> DataFrame:
    """Near-duplicate clusters: connected components over MinHash-LSH pairs.

    The step a real dedup pipeline runs after pair generation — A~B and
    B~C must collapse into ONE keep-group {A,B,C} even when A~C was never
    emitted as a pair. cluster_id = min doc_id of the component (the
    conventional "keep the smallest id" retention rule). Only documents
    that appear in at least one near-dup pair are emitted; everything else
    is trivially its own cluster.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).filter(
        F.col("est_jaccard") >= threshold
    )
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    return connected_components(edges).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


# Shared CTE body (everything from shingles to the recursive reachability
# closure) — DEDUP_CLUSTERS_SQL selects from it directly and
# sampling.training_corpus_pipeline's oracle composes it with the curation
# stages. Must follow a `WITH RECURSIVE` keyword at the use site.
CLUSTERS_CTES = f"""sh AS ({DUCK_DOC_SHINGLES}),
hashed AS (SELECT doc_id, {duckdb_hash48("shingle")} AS h FROM sh),
mh AS (
  SELECT doc_id, perm, MIN((a * h + b) & {(1 << 48) - 1}) AS minhash
  FROM hashed, (VALUES {_DUCK_COEFFS}) AS coeffs(perm, a, b)
  GROUP BY doc_id, perm
),
bands AS (
  SELECT doc_id, perm // {NUM_PERM // LSH_BANDS} AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY perm)) AS sig
  FROM mh GROUP BY doc_id, band
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
  WHERE a.doc_id < b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b
  FROM cand
  JOIN mh ma ON ma.doc_id = doc_a
  JOIN mh mb ON mb.doc_id = doc_b AND ma.perm = mb.perm
  GROUP BY doc_a, doc_b
  HAVING SUM(CASE WHEN ma.minhash = mb.minhash THEN 1 ELSE 0 END) / {float(NUM_PERM)} >= 0.5
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(node, lbl) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
)"""

DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {CLUSTERS_CTES}
SELECT node AS doc_id, MIN(lbl) AS cluster_id
FROM reach GROUP BY node
"""

QUERIES["dedup_clusters"] = dedup_clusters
ORACLES["dedup_clusters"] = DEDUP_CLUSTERS_SQL


def dedup_clusters_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_clusters with the driver union-find gate pinned SHUT
    (driver_threshold=0): every edge goes through distributed min-label
    propagation — the branch that actually runs at 100 TB, where the
    candidate graph no longer fits one collect.

    At fixture scale the tiered dedup_clusters entry always takes the
    driver branch, so this entry exists to put the iterative-join path
    itself under the external oracle (not just the internal equivalence
    test in tests/test_sampling.py). Same oracle SQL as dedup_clusters —
    both branches must be indistinguishable to a consumer.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).filter(F.col("est_jaccard") >= 0.5)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    return connected_components(edges, driver_threshold=0).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


QUERIES["dedup_clusters_distributed"] = dedup_clusters_distributed
ORACLES["dedup_clusters_distributed"] = DEDUP_CLUSTERS_SQL


# 8. Benchmark decontamination -------------------------------------------------

DECON_N = 5  # long shingles, as real decontamination pipelines use (8-13
             # word n-grams at web scale) — short ones collide by chance


def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/benchmark overlap check: flag training docs sharing any
    DECON_N-gram with the held-out benchmark slice (doc_id % 20 == 0).

    The standard corpus-hygiene pass before an LLM train run: exact
    n-gram collision against the eval set. Per training doc: its distinct
    shingle count, how many of those appear in ANY benchmark doc, and the
    contamination verdict (>= 1 shared shingle).

    Scale shape: the benchmark set is a small fraction by construction,
    so its distinct-shingle set broadcasts; the training side is never
    shuffled for the probe itself — the semi-join is map-side, and the
    per-doc rollup rides the doc_id partitioning that doc_shingles
    already established. Token-less docs survive via the left join with
    zero counts.
    """
    docs = _docs(spark, sf_dir)
    is_eval = F.col("doc_id") % 20 == 0
    ev_sh = (
        doc_shingles(docs.filter(is_eval), DECON_N).select("shingle").distinct()
    )
    tr_sh = doc_shingles(docs.filter(~is_eval), DECON_N)
    per_doc = tr_sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    overlap = (
        tr_sh.join(F.broadcast(ev_sh), "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        docs.filter(~is_eval)
        .select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            F.round(
                F.coalesce("n_overlap", F.lit(0))
                / F.greatest(F.coalesce("n_shingles", F.lit(0)), F.lit(1)).cast(
                    "double"
                ),
                9,
            ).alias("overlap_frac"),
            (F.coalesce("n_overlap", F.lit(0)) >= 1).alias("contaminated"),
        )
    )


_DUCK_DECON_SHINGLES = (
    "[array_to_string(t[i:i+{nm1}], ' ') for i in range(1, len(t) - {nm1} + 1)]"
).format(nm1=DECON_N - 1)

DECONTAMINATE_SQL = f"""
WITH tr_sh AS (
  SELECT doc_id, unnest(list_distinct({_DUCK_DECON_SHINGLES})) AS shingle
  FROM (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents WHERE doc_id % 20 <> 0)
  WHERE len(t) >= {DECON_N}
),
ev_sh AS (
  SELECT DISTINCT unnest(list_distinct({_DUCK_DECON_SHINGLES})) AS shingle
  FROM (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents WHERE doc_id % 20 = 0)
  WHERE len(t) >= {DECON_N}
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM tr_sh GROUP BY doc_id
),
overlap AS (
  SELECT doc_id, COUNT(*) AS n_overlap
  FROM tr_sh WHERE shingle IN (SELECT shingle FROM ev_sh)
  GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_shingles, 0) AS n_shingles,
       COALESCE(o.n_overlap, 0) AS n_overlap,
       round(COALESCE(o.n_overlap, 0)
             / CAST(GREATEST(COALESCE(p.n_shingles, 0), 1) AS DOUBLE), 9) AS overlap_frac,
       COALESCE(o.n_overlap, 0) >= 1 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
LEFT JOIN per_doc p ON d.doc_id = p.doc_id
LEFT JOIN overlap o ON d.doc_id = o.doc_id
"""

QUERIES["decontaminate_overlap"] = decontaminate_overlap
ORACLES["decontaminate_overlap"] = DECONTAMINATE_SQL


# 7. Incremental MinHash-LSH index maintenance --------------------------------

def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup screening of an incoming batch against a STANDING LSH index.

    The production shape of MinHash dedup at 100 TB: the standing corpus's
    banded signature index is a maintained table (computed once, appended
    per ingest — here rebuilt from the fixture split, doc_id % 10 == 0 as
    the incoming batch, matching dedup_incremental). The incoming batch
    computes signatures for ITS documents only and probes the index with a
    band equi-join — the standing corpus is never re-shingled, and the
    incoming band set is batch-sized (broadcastable). Each incoming doc
    gets its best near-dup verdict: highest est_jaccard >= 0.5, ties to the
    lowest corpus doc_id; docs with no candidate emit NULLs (= "new").
    """
    d = _docs(spark, sf_dir)
    inc_bands = _lsh_bands(minhash_wide(d.filter(F.col("doc_id") % 10 == 0)))
    st_bands = _lsh_bands(minhash_wide(d.filter(F.col("doc_id") % 10 != 0)))
    n_eq = F.size(
        F.filter(
            F.zip_with(F.col("si"), F.col("ss"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    scored = (
        inc_bands.alias("i")
        .join(
            st_bands.alias("s"),
            (F.col("i.band") == F.col("s.band")) & (F.col("i.sig") == F.col("s.sig")),
        )
        .select(
            F.col("i.doc_id").alias("inc_id"),
            F.col("s.doc_id").alias("st_id"),
            F.col("i.sig_full").alias("si"),
            F.col("s.sig_full").alias("ss"),
        )
        .dropDuplicates(["inc_id", "st_id"])
        .select("inc_id", "st_id", (n_eq / F.lit(float(NUM_PERM))).alias("est"))
        .filter(F.col("est") >= 0.5)
    )
    from pyspark.sql import Window as W

    best = (
        scored.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("inc_id").orderBy(F.desc("est"), F.asc("st_id"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("inc_id", "st_id", "est")
    )
    incoming = d.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    return incoming.join(
        best, incoming["doc_id"] == best["inc_id"], "left"
    ).select(
        "doc_id",
        F.col("st_id").alias("near_dup_of"),
        F.col("est").alias("est_jaccard"),
    )


DEDUP_MINHASH_INCR_SQL = f"""
WITH sh AS ({DUCK_DOC_SHINGLES}),
hashed AS (SELECT doc_id, {duckdb_hash48("shingle")} AS h FROM sh),
mh AS (
  SELECT doc_id, perm, MIN((a * h + b) & {(1 << 48) - 1}) AS minhash
  FROM hashed, (VALUES {_DUCK_COEFFS}) AS coeffs(perm, a, b)
  GROUP BY doc_id, perm
),
bands AS (
  SELECT doc_id, perm // {NUM_PERM // LSH_BANDS} AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY perm)) AS sig
  FROM mh GROUP BY doc_id, band
),
cand AS (
  SELECT DISTINCT a.doc_id AS inc_id, b.doc_id AS st_id
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
),
scored AS (
  SELECT inc_id, st_id,
         SUM(CASE WHEN ma.minhash = mb.minhash THEN 1 ELSE 0 END) / {float(NUM_PERM)} AS est
  FROM cand
  JOIN mh ma ON ma.doc_id = inc_id
  JOIN mh mb ON mb.doc_id = st_id AND ma.perm = mb.perm
  GROUP BY inc_id, st_id
  HAVING est >= 0.5
),
best AS (
  SELECT inc_id, st_id, est,
         row_number() OVER (PARTITION BY inc_id ORDER BY est DESC, st_id ASC) AS rn
  FROM scored
)
SELECT i.doc_id, b.st_id AS near_dup_of, b.est AS est_jaccard
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) i
LEFT JOIN best b ON b.inc_id = i.doc_id AND b.rn = 1
"""

QUERIES["dedup_minhash_incremental"] = dedup_minhash_incremental
ORACLES["dedup_minhash_incremental"] = DEDUP_MINHASH_INCR_SQL


# 9. Bloom-filter decontamination ----------------------------------------------
#
# Companion to decontaminate_overlap (exact broadcast semi-join): the Bloom
# formulation caps the broadcast state at m bits REGARDLESS of how large the
# benchmark suite grows — the production choice when the blocklist itself is
# big. False positives are possible (over-flagging = safe direction); false
# negatives are impossible, and that invariant is oracle-checked per doc.

BLOOM_M = 1 << 16  # filter bits
BLOOM_K = 3        # hash functions


def bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination through an m-bit Bloom filter.

    Build: every eval-set shingle (doc_id % 20 == 0) sets BLOOM_K bit
    positions via Kirsch-Mitzenmacher double hashing — ONE md5 per shingle
    yields (h1, h2) from disjoint digest halves, pos_j = (h1 + j*h2) mod m
    — which preserves Bloom asymptotics while paying a single digest
    instead of K. The set-bit list is
    aggregated to ONE row (<= m entries — bounded by the filter size, not
    the corpus) and broadcast. Probe: a training shingle is bloom-positive
    iff all K of its positions are set; a doc is flagged iff any of its
    shingles is bloom-positive.

    Because both engines recompute the same md5-derived hash48, the DuckDB
    oracle reproduces the bloom verdicts bit-for-bit — including false
    positives — and additionally pins the one-sided-error contract:
    ``no_false_negative`` must be TRUE on every row (exact-contaminated
    implies bloom-flagged).

    Scale shape: the set-bit table is <= BLOOM_M rows (bounded by the
    filter size, not the corpus) and broadcasts; each of the K membership
    probes is a broadcast hash join on the probe's bit position — an O(1)
    hash lookup per shingle, map-side, never a shuffle of the training
    side. (A one-row broadcast array + ``array_contains`` encodes the same
    thing but linear-scans all m positions PER PROBE — measured 20x slower
    at sf0.1.) The only shuffle is the per-doc rollup, which rides doc_id.
    Compare decontaminate_overlap, whose broadcast grows with the eval set.
    """
    docs = _docs(spark, sf_dir)
    is_eval = F.col("doc_id") % 20 == 0

    def positions(col, j):
        # h1/h2 from disjoint md5 halves; h1 + j*h2 < 2^48 + K*2^48 << 2^63
        h1 = F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")
        h2 = F.conv(F.substring(F.md5(col), 13, 12), 16, 10).cast("long")
        return (h1 + F.lit(j) * h2) % BLOOM_M

    ev_sh = doc_shingles(docs.filter(is_eval), DECON_N).select("shingle").distinct()
    ev_pos = (
        ev_sh.select(
            F.explode(
                F.array(*[positions(F.col("shingle"), j) for j in range(BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
    )

    tr_sh = doc_shingles(docs.filter(~is_eval), DECON_N)
    probed = tr_sh.select(
        "doc_id",
        "shingle",
        *[positions(F.col("shingle"), j).alias(f"p{j}") for j in range(BLOOM_K)],
    )
    for j in range(BLOOM_K):
        marker = ev_pos.select(
            F.col("pos").alias(f"p{j}"), F.lit(True).alias(f"b{j}")
        )
        probed = probed.join(F.broadcast(marker), f"p{j}", "left")
    # the exact-membership probe rides the SAME single pass over the
    # training shingles (a broadcast left join instead of a second
    # left-semi branch — shingling is the dominant cost and is paid once)
    probed = probed.join(
        F.broadcast(ev_sh.select("shingle", F.lit(True).alias("ex"))),
        "shingle",
        "left",
    )
    hit = F.expr(" AND ".join(f"(b{j} IS NOT NULL)" for j in range(BLOOM_K)))
    per_doc = probed.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum(hit.cast("long")).alias("n_bloom_hits"),
        F.sum(F.col("ex").isNotNull().cast("long")).alias("n_exact"),
    )
    return (
        docs.filter(~is_eval)
        .select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_bloom_hits", F.lit(0)).alias("n_bloom_hits"),
            (F.coalesce("n_bloom_hits", F.lit(0)) >= 1).alias("bloom_flagged"),
            (F.coalesce("n_exact", F.lit(0)) >= 1).alias("exact_flagged"),
            (
                (F.coalesce("n_bloom_hits", F.lit(0)) >= 1)
                | (F.coalesce("n_exact", F.lit(0)) < 1)
            ).alias("no_false_negative"),
        )
    )


def _duck_half_hash48(expr: str, hex_offset: int) -> str:
    """DuckDB 48-bit int from 12 hex chars of md5(expr) starting after
    ``hex_offset`` chars (0 = hash48's own half, 12 = the second half)."""
    return (
        "CAST(list_sum(list_transform(range(1,13), i -> "
        f"(strpos('0123456789abcdef', substr(md5({expr}), i + {hex_offset}, 1)) - 1) "
        "* power(16::DOUBLE, 12 - i))) AS BIGINT)"
    )


def _bloom_pos_sql(j: int, expr: str) -> str:
    h1 = _duck_half_hash48(expr, 0)
    h2 = _duck_half_hash48(expr, 12)
    return f"(({h1}) + {j} * ({h2})) % {BLOOM_M}"


_BLOOM_PROBE = " AND ".join(
    f"p{j} IN (SELECT pos FROM ev_pos)" for j in range(BLOOM_K)
)

BLOOM_DECON_SQL = f"""
WITH ev_sh AS (
  SELECT DISTINCT unnest(list_distinct({_DUCK_DECON_SHINGLES})) AS shingle
  FROM (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents WHERE doc_id % 20 = 0)
  WHERE len(t) >= {DECON_N}
),
ev_pos AS (
  SELECT DISTINCT unnest(
           [{", ".join(_bloom_pos_sql(j, 'shingle') for j in range(BLOOM_K))}]
         ) AS pos
  FROM ev_sh
),
tr_sh AS (
  SELECT doc_id, unnest(list_distinct({_DUCK_DECON_SHINGLES})) AS shingle
  FROM (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents WHERE doc_id % 20 <> 0)
  WHERE len(t) >= {DECON_N}
),
tr_pos AS (
  SELECT doc_id, shingle,
         {", ".join(f"{_bloom_pos_sql(j, 'shingle')} AS p{j}" for j in range(BLOOM_K))}
  FROM tr_sh
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_shingles,
         CAST(SUM(CASE WHEN {_BLOOM_PROBE} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bloom_hits
  FROM tr_pos
  GROUP BY doc_id
),
exact AS (
  SELECT doc_id, COUNT(*) AS n_exact
  FROM tr_sh WHERE shingle IN (SELECT shingle FROM ev_sh)
  GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_shingles, 0) AS n_shingles,
       COALESCE(p.n_bloom_hits, 0) AS n_bloom_hits,
       COALESCE(p.n_bloom_hits, 0) >= 1 AS bloom_flagged,
       COALESCE(e.n_exact, 0) >= 1 AS exact_flagged,
       (COALESCE(p.n_bloom_hits, 0) >= 1 OR COALESCE(e.n_exact, 0) < 1)
         AS no_false_negative
FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
LEFT JOIN per_doc p ON d.doc_id = p.doc_id
LEFT JOIN exact e ON d.doc_id = e.doc_id
"""

QUERIES["bloom_decontaminate"] = bloom_decontaminate
ORACLES["bloom_decontaminate"] = BLOOM_DECON_SQL


# 10. Canonical selection: keep the BEST doc per near-dup cluster --------------

def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention policy for near-dup clusters: keep the highest-QUALITY
    member, not the smallest id.

    dedup_clusters collapses A~B~C into one group with the conventional
    min-id rule; production pipelines instead keep the best copy (highest
    model quality score, e.g. the non-truncated / least-boilerplate
    variant) and drop the rest. One row per document: its cluster, its
    score, and the keep verdict (argmax by (model_score DESC, doc_id ASC)
    — deterministic tie-break).

    Scale shape: clusters and scores join on doc_id (both already keyed on
    it); the argmax is a per-cluster window whose partitions are near-dup
    cluster sizes (small by nature — the giant-cluster risk belongs to the
    upstream LSH step, see SCALE.md on band occupancy). No collects.
    """
    from pyspark.sql import Window

    from .textstats import quality_model_score

    clusters = dedup_clusters(spark, sf_dir)
    scores = quality_model_score(spark, sf_dir).select("doc_id", "model_score")
    grp = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .join(clusters, "doc_id", "left")
        .withColumn("grp", F.coalesce(F.col("cluster_id"), F.col("doc_id")))
        .join(scores, "doc_id")
    )
    w = Window.partitionBy("grp").orderBy(F.desc("model_score"), F.asc("doc_id"))
    return grp.select(
        "doc_id",
        F.col("grp").alias("cluster_id"),
        "model_score",
        (F.row_number().over(w) == 1).alias("keep"),
    )


def _keep_best_sql() -> str:
    from .textstats import QUALITY_MODEL_SQL

    return f"""
WITH RECURSIVE {CLUSTERS_CTES},
clusters AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
scored AS ({QUALITY_MODEL_SQL})
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       s.model_score,
       (ROW_NUMBER() OVER (PARTITION BY COALESCE(c.cluster_id, d.doc_id)
                           ORDER BY s.model_score DESC, d.doc_id ASC) = 1) AS keep
FROM documents d
LEFT JOIN clusters c ON c.doc_id = d.doc_id
JOIN scored s ON s.doc_id = d.doc_id
"""


QUERIES["dedup_keep_best"] = dedup_keep_best
ORACLES["dedup_keep_best"] = _keep_best_sql()


# 11. LSH band-occupancy diagnostic --------------------------------------------

def lsh_band_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-occupancy report for the MinHash-LSH band index — the skew
    probe for the dedup pipeline itself (join_key_skew's counterpart for
    near-dup candidate generation).

    Per band: bucket count, the largest bucket, and the exact candidate
    fan-out the band contributes (sum over buckets of C(k,2)). SCALE.md
    names degenerate-band occupancy as THE 100 TB hazard of banded LSH;
    this query is how you see it coming before paying the join — the
    fan-out column is exactly the pair count the band self-join will emit.
    One aggregation on (band, sig) — the same key the candidate join
    shuffles on — then a 4-row rollup.
    """
    bands = _lsh_bands(minhash_wide(_docs(spark, sf_dir)))
    buckets = bands.groupBy("band", "sig").agg(F.count("*").alias("k"))
    return (
        buckets.groupBy("band")
        .agg(
            F.count("*").alias("n_buckets"),
            F.max("k").alias("max_bucket"),
            F.sum(F.expr("k * (k - 1) div 2")).alias("est_candidate_pairs"),
        )
        .orderBy("band")
    )


LSH_BAND_OCCUPANCY_SQL = f"""
WITH sh AS ({DUCK_DOC_SHINGLES}),
hashed AS (SELECT doc_id, {duckdb_hash48("shingle")} AS h FROM sh),
mh AS (
  SELECT doc_id, perm, MIN((a * h + b) & {(1 << 48) - 1}) AS minhash
  FROM hashed, (VALUES {_DUCK_COEFFS}) AS coeffs(perm, a, b)
  GROUP BY doc_id, perm
),
bands AS (
  SELECT doc_id, perm // {NUM_PERM // LSH_BANDS} AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY perm)) AS sig
  FROM mh GROUP BY doc_id, band
),
buckets AS (
  SELECT band, sig, COUNT(*) AS k FROM bands GROUP BY band, sig
)
SELECT band,
       COUNT(*) AS n_buckets,
       MAX(k) AS max_bucket,
       CAST(SUM(k * (k - 1) // 2) AS BIGINT) AS est_candidate_pairs
FROM buckets
GROUP BY band
ORDER BY band
"""

QUERIES["lsh_band_occupancy"] = lsh_band_occupancy
ORACLES["lsh_band_occupancy"] = LSH_BAND_OCCUPANCY_SQL


# C4-style span rewrite: the corpus is cut into non-overlapping runs of
# REWRITE_SPAN_W tokens; a span seen anywhere before (global first
# occurrence by (doc_id, span_no)) is deleted from every later document.
REWRITE_SPAN_W = 10


def line_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup that REWRITES the corpus (C4's duplicate-line
    removal, over fixed token spans since the fixture text has no
    newlines): every non-overlapping 10-token span keeps only its globally
    first occurrence — later repeats are cut out and the surviving spans
    are stitched back into a cleaned document.

    This is the missing half of chunk_dedup (which only REPORTS repeated
    chunks): the output here is the rewritten corpus itself, every doc_id
    preserved (possibly with empty clean_text). Pipeline shape: one
    tokenize+slice pass (map-only), ONE shuffle HASHED on the span's md5
    to elect keepers, one shuffle back on doc_id to reassemble. Both
    shuffles necessarily carry the span text itself — a rewrite must move
    the text to where the cleaned doc is stitched — so shuffle volume is
    the corpus size (linear, unconditionally: a span repeated M times
    contributes M rows, never M² pairs). The election KEY is the full
    128-bit md5, not the 48-bit hash the report-only ops use: a digest
    collision here would DELETE innocent text, and at 100 TB span counts
    48-bit collisions are certain while 128-bit stay negligible. The
    reassembly groupBy is keyed on doc_id (uniform, no skew) and carries
    only kept spans.
    """
    docs = _docs(spark, sf_dir)
    # r13 (CollapseProject inlines a projected column into every lambda
    # that reads it, the same hazard _bigram_edges documents): the former transform(span_idx, i -> slice(toks, ...))
    # embedded the FULL tokenizer expression inside the lambda, so the
    # interpreted HOF re-ran split+filter once PER SPAN — O(len²/W) splits
    # per document. Tokenize once into an attribute bound by the Generate
    # (explode of the span indices), then slice that attribute in a plain
    # codegen projection: one tokenization per document, one O(W) slice per
    # span. Same spans, same span_no (measured 1.52 -> 0.97 s at sf0.1,
    # identical rows).
    toks_doc = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    n = F.size("t")
    span_idx = F.when(
        n > 0, F.sequence(F.lit(0), F.ceil(n / REWRITE_SPAN_W) - 1)
    ).otherwise(F.array().cast("array<int>"))
    spans = toks_doc.select(
        "doc_id", "t", F.explode(span_idx).alias("span_no")
    ).select(
        "doc_id",
        "span_no",
        F.concat_ws(
            " ",
            F.slice(
                F.col("t"),
                F.col("span_no") * REWRITE_SPAN_W + 1,
                REWRITE_SPAN_W,
            ),
        ).alias("span"),
    )
    from pyspark.sql import Window

    # Full 128-bit md5 as the election key, NOT hash48: the rewrite is
    # DESTRUCTIVE (a collision deletes innocent text), and at 100 TB span
    # counts (~1e10) 48-bit birthday collisions are guaranteed while
    # 128-bit remain ~1e-18. The extra 20 bytes/span of shuffle is the
    # price of a safe delete; the report-only dedup ops keep the cheaper
    # 48-bit digests.
    w = Window.partitionBy(F.md5(F.col("span"))).orderBy("doc_id", "span_no")
    marked = spans.withColumn("keep", F.row_number().over(w) == 1)
    rebuilt = (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.col("keep").cast("long")).alias("n_spans_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"),
                                F.struct(F.col("span_no"), F.col("span")),
                            )
                        )
                    ),
                    lambda s: s.span,
                ),
            ).alias("clean_text"),
        )
    )
    return (
        docs.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_spans_kept", F.lit(0)).alias("n_spans_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


LINE_DEDUP_REWRITE_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '[^\\p{{L}}]+'), w -> w <> '') AS t
  FROM documents
),
lists AS (
  SELECT doc_id,
         list_transform(range(1, CAST(ceil(len(t) / {REWRITE_SPAN_W}.0) AS BIGINT) + 1),
                        i -> struct_pack(
                          span_no := i - 1,
                          span := array_to_string(
                            list_slice(t, (i-1)*{REWRITE_SPAN_W} + 1,
                                       (i-1)*{REWRITE_SPAN_W} + {REWRITE_SPAN_W}), ' ')
                        )) AS span_structs
  FROM toks
),
spans AS (
  SELECT doc_id, unnest(span_structs, recursive := true)
  FROM lists
),
marked AS (
  SELECT doc_id, span_no, span,
         ROW_NUMBER() OVER (PARTITION BY md5(span)
                            ORDER BY doc_id, span_no) = 1 AS keep
  FROM spans
),
rebuilt AS (
  SELECT doc_id,
         COUNT(*) AS n_spans,
         CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_spans_kept,
         COALESCE(string_agg(CASE WHEN keep THEN span END, ' ' ORDER BY span_no), '')
           AS clean_text
  FROM marked GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(r.n_spans, 0) AS n_spans,
       COALESCE(r.n_spans_kept, 0) AS n_spans_kept,
       COALESCE(r.clean_text, '') AS clean_text
FROM documents d LEFT JOIN rebuilt r USING (doc_id)
"""

QUERIES["line_dedup_rewrite"] = line_dedup_rewrite
ORACLES["line_dedup_rewrite"] = LINE_DEDUP_REWRITE_SQL
