"""Similarity search over the embeddings table (array<float> column).

Two paths, as a 100 TB pipeline needs both:

- :func:`ann_cosine_topk` — EXACT top-k, size-gated (r10): the join brute
  below the measured crossover, the two-stage blocked scan (broadcast
  query matrix -> per-block provably-sufficient candidates -> exact
  re-rank) above it. Both bit-identical; the ungated brute
  (:func:`ann_cosine_topk_brute`) stays as the independent baseline the
  recall scripts measure against.
- :func:`ann_ivf_topk` — IVF-style cell-probe search: a fixed-count
  (min(K_CENTROIDS, ceil(sqrt(n)))) deterministic centroid sample partitions
  the base table into cells; a query probes only its ``nprobe`` nearest
  cells. The scan cost drops from |base| to |base| * nprobe / n_cells per
  query — the scale path.

All arithmetic is sequential left-to-right double accumulation
(``F.aggregate`` in Spark; flat left-associated ``+`` term chains in the
DuckDB oracles — same IEEE order as a ``list_reduce`` fold but ~26x faster
to plan/execute, see functions.duck_cosine) so the oracle matches
bit-for-bit; cosines are rounded to 9 dp in both engines before ranking.

Embeddings fixture: vec_id bigint, embedding array<float> (64 dims), label.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions import duckdb_hash48, hash48
from ..sources import table

TOP_K = 5
QUERY_MOD = 100   # vec_id % QUERY_MOD == 0 -> query vector
NPROBE = 3

# Workload-constant query-set size for the *_fixedq ANN twins. The
# default QUERY_MOD contract sets q = n/100, so scored pairs grow
# as n^2 across fixture decades and the measured exponents march toward
# 2.0 BY CONSTRUCTION — the law can never vouch for the production claim
# "q is a workload constant -> cost linear in corpus". The fixed arm holds
# q at exactly FIXED_Q vectors at EVERY scale factor (vec_id < FIXED_Q;
# vec_ids are dense 0..n-1 in all fixtures, and the smallest fixture has
# 500 vectors, so the set is full-size everywhere). 200 = the sf0.1
# proportional query count x10, small enough that the q x n pair work
# stays measurable-not-dominant at sf10 (200 x 200k pairs).
FIXED_Q = 200


def _query_vectors(base: DataFrame, fixed_q: int | None = None) -> DataFrame:
    """The ANN query subset of the base table — proportional contract
    (``vec_id % QUERY_MOD == 0``, q = n/QUERY_MOD) by default, or the
    workload-constant contract (``vec_id < fixed_q``) when ``fixed_q`` is
    given. Twin of :func:`_q_where` (the oracle-side predicate) — keep in
    lockstep."""
    if fixed_q is not None:
        return base.filter(F.col("vec_id") < fixed_q)
    return base.filter(F.col("vec_id") % QUERY_MOD == 0)


def _q_where(fixed_q: int | None = None) -> str:
    """DuckDB WHERE predicate matching :func:`_query_vectors`."""
    if fixed_q is not None:
        return f"vec_id < {fixed_q}"
    return f"vec_id % {QUERY_MOD} = 0"

# Coarse quantizer sizing: a FIXED count k = min(K_CENTROIDS, ceil(sqrt(n))),
# not a fraction of the base table. sqrt(n) is the classical IVF cell count
# (cells and per-cell size both grow as sqrt(n)); the cap bounds the driver
# collect and the per-row assignment cost at O(K_CENTROIDS) no matter how
# large the base grows. The cap matters: once it binds, per-cell size grows
# LINEARLY in n and the within-cell work (near-dup pairs: sum |cell|^2/2)
# turns quadratic — measured in the r7 scaling sweep, where the old cap of
# 256 bound at the 200k-vector 100x fixture and embedding_near_dup_ivf's
# last-decade ratio hit 12.8x for 10x data (SCALE.md "Coarse quantizer
# cap").
# 4096 keeps sqrt sizing honest through n = 16.8M vectors while the
# broadcast stays a 4096 x 64 float64 matrix = 2 MB and assignment stays one
# numpy matmul per Arrow batch. Beyond ~10^7 vectors per job, raise it again
# or go hierarchical (two-level coarse quantizer); the invariant that
# matters is that centroid count is independent of n only UNTIL the cap,
# and the cap must sit above the corpus sizes the job actually sees.
K_CENTROIDS = 4096


def n_centroids(n_rows: int) -> int:
    """Centroid count for a base table of ``n_rows`` vectors."""
    return min(K_CENTROIDS, max(1, math.ceil(math.sqrt(n_rows))))

# DuckDB: cosine with guaranteed sequential accumulation. The expressions
# are FLAT left-associated term chains, not list_reduce folds: a flat
# `t1 + t2 + ...` parses as ((t1+t2)+t3)... — the exact IEEE sequence of
# the fold AND of the Spark/numpy dimension-ordered accumulation — while
# DuckDB evaluates it vectorized instead of interpreting a lambda per
# element per row. Measured 26.6x faster on 20k rows x 64 dims (0 rows
# differ from the fold form); the fold version of the SRP oracle signature
# alone cost ~990 s at the 100x fixture. Requires a known dimensionality —
# every oracle runs on the 64-dim embeddings table (EMBED_DIM, asserted in
# tests).


def _duck_dot(a: str, b: str, dim: int) -> str:
    return (
        "("
        + " + ".join(
            f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
            for i in range(1, dim + 1)
        )
        + ")"
    )


def _duck_norm(a: str, dim: int) -> str:
    return f"sqrt({_duck_dot(a, a, dim)})"


def duck_cosine(a: str, b: str, dim: int | None = None) -> str:
    dim = EMBED_DIM if dim is None else dim
    return (
        f"round({_duck_dot(a, b, dim)} / "
        f"({_duck_norm(a, dim)} * {_duck_norm(b, dim)}), 9)"
    )


def duck_cosine_raw(a: str, b: str, dim: int | None = None) -> str:
    """Unrounded cosine — used where ORDERING on the cosine is all that
    matters (centroid assignment / cell probing): raw float64 comparisons
    are already engine-identical because both engines execute the same
    IEEE operation sequence, and skipping the round keeps rounding
    semantics out of tie-breaks."""
    dim = EMBED_DIM if dim is None else dim
    return (
        f"({_duck_dot(a, b, dim)} / "
        f"({_duck_norm(a, dim)} * {_duck_norm(b, dim)}))"
    )


def duck_assign_ctes(src: str) -> str:
    """Streaming nearest-centroid assignment for the DuckDB oracles.

    Emits two CTEs (``abest``, ``assign``) equivalent to the window form
    ``ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id
    ASC) = 1`` but pipelined: the window operator materializes the whole
    (rows x centroids) cross product — with the embedding arrays in
    flight that is ~1 KB/row, and at the 100x fixture (200k x 448 = 90M
    rows) it ran DuckDB out of memory during the r7 re-verification. The
    two hash aggregates keyed on vec_id stream the same product twice
    (2x compute, O(n) state): pass one takes MAX(cos) per vector, pass
    two takes MIN(cent_id) among the achievers — the identical
    highest-cos, lowest-cent_id tie-break, on identical IEEE values
    (same expression both passes). Verified row-identical to the window
    form at sf0.01/sf0.1/sf1 before the swap.

    The achiever match is ``IS NOT DISTINCT FROM`` (not ``=``) so a
    vector whose cosine is NULL against EVERY centroid (a NULL element in
    the embedding array — absent from the fixtures but possible on
    degenerate data) still lands in its MIN(cent_id) cell, exactly as the
    ROW_NUMBER window form assigned it; with bare ``=`` such a vector
    would silently vanish from the assignment (NULL = NULL is never
    true). NaN needs no such care: DuckDB treats NaN = NaN as true."""
    cos = duck_cosine_raw("e.embedding", "c.c_emb")
    return f"""abest AS (
  SELECT e.vec_id, MAX({cos}) AS best_cos
  FROM {src} e CROSS JOIN cents c
  GROUP BY e.vec_id
),
assign AS (
  SELECT e.vec_id, MIN(c.cent_id) AS cell
  FROM {src} e CROSS JOIN cents c
  JOIN abest b ON b.vec_id = e.vec_id
  WHERE {cos} IS NOT DISTINCT FROM b.best_cos
  GROUP BY e.vec_id
)"""


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "embeddings")


EMBED_DIM = 64  # fixture embedding dimensionality; asserted in tests


def _rank_topk(scored: DataFrame) -> DataFrame:
    """Final exact ranking shared by every exact top-k path: HALF_UP round
    to 9 dp, then per-query (cosine DESC, vec_id ASC) row_number <= k."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def ann_cosine_topk_brute(
    spark: SparkSession, sf_dir: str, fixed_q: int | None = None
) -> DataFrame:
    """Exact top-k cosine neighbors, JOIN-materialized brute force.

    Query set is broadcast and every (query, candidate) pair becomes a ROW
    (with both embedding arrays in flight) before scoring — simple and
    exact, but the materialized pair stream is O(n * q) rows, which is
    what made the registry entry the repo's one above-linear scaling row
    (r9 vetted law: exp 1.36, 393 s at sf10). UNGATED library form, kept
    as the independent implementation recall/crossover scripts measure
    against (scripts/ann_recall.py, scripts/ann_crossover.py); the
    registry entry :func:`ann_cosine_topk` delegates to the blocked-scan
    form above the measured crossover instead.
    """
    base = _emb(spark, sf_dir)
    queries = _query_vectors(base, fixed_q).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    pairs = base.join(broadcast(queries), F.col("vec_id") != F.col("query_id"))
    scored = _score_pairs_np(pairs, "q_emb", "embedding", ["query_id", "vec_id"]).select(
        "query_id", "vec_id", F.round(F.col("raw"), 9).alias("cosine")
    )
    return _rank_topk(scored)


# Tie margin for the blocked scan's per-block candidate cut. The global
# ranking orders by the 9-dp ROUNDED cosine (vec_id ascending as
# tie-break) while blocks select on RAW values; a raw-losing row can still
# WIN the global order when rounding lands both on the same 1e-9 grid
# point and its vec_id is lower. Keeping every row within 2e-9 of the
# block's k-th best raw makes that impossible: a row cut by the margin
# trails k rows by > 2e-9 raw, so after rounding (|round(v) - v| <=
# 0.5e-9) each of those k rows still leads it by > 1e-9 — at least one
# full grid step, never a tie. Hence the union of per-block keeps
# provably contains every global top-k row (any global top-k row is
# beaten by < k rows overall, so by < k rows within its own block).
_BLOCK_TIE_MARGIN = 2e-9

# Query-chunk width for the in-UDF scoring loop: bounds per-task transient
# memory at arrow_batch_rows x _Q_CHUNK x 8 B (10k-row batches -> ~160 MB)
# while the base table is still scanned exactly ONCE however many chunks
# the query set needs.
_Q_CHUNK = 2048


# Hard gate on the blocked scan's query-side collect:
# at most this many query vectors are collected/broadcast per slice.
# 1M x (64 float64 + id) ~= 0.5 GB — the docstring's own stated broadcast
# bound, now enforced in code like every other collect in the repo. Above
# it the query set splits into contiguous query_id RANGES (boundary ids
# found by an O(n_slices) collect over a ranked id projection — ranges,
# not a modulus, because fixture/production ids can cluster in one
# residue class and silently blow the bound). Each range is an
# INDEPENDENT one-pass blocked scan whose candidates union before the
# (unchanged) exact re-rank — ranges partition the query set, so no
# query's candidate generation ever sees a different matrix.
_BLOCKED_QUERY_SLICE_ROWS = 1_000_000


def _ann_exact_blocked(spark: SparkSession, base: DataFrame, queries: DataFrame) -> DataFrame:
    """Exact top-k via a two-stage blocked scan — the at-scale form.

    Stage 1 (candidate generation): the query matrix is collected once,
    broadcast, and each Arrow batch of the base table is scored against it
    with the dimension-ordered float64 accumulation loop (identical IEEE
    sequence to the brute/oracle per-pair fold — numpy vectorizes only
    ACROSS pairs, see _score_pairs_np). Within each (block, query-chunk)
    the batch keeps only rows within _BLOCK_TIE_MARGIN of its k-th best
    raw cosine — a provably sufficient candidate set (margin note above).
    No join, no shuffle of pairs: the O(n * q) work happens inside
    vectorized numpy and only O(blocks * q * k) candidate rows leave the
    scan (~10^5 rows where the brute form shipped 4*10^8 pair rows at the
    100x fixture).

    Stage 2 (exact re-rank): one tiny shuffle windows the candidates to
    the true global top-k per query — bit-identical to brute force and to
    the unchanged DuckDB oracle, because every raw cosine is produced by
    the same IEEE operation sequence.

    100 TB notes: per-task memory is bounded by the query-chunk loop
    (arrow_rows x _Q_CHUNK floats); the query-side driver collect and
    broadcast are bounded by _BLOCKED_QUERY_SLICE_ROWS (~0.5 GB of
    float64 at the 1M default) — a larger query set is split into
    contiguous query_id RANGES and each range runs as an independent
    one-pass scan (equivalence pinned by
    tests/test_similarity.py::test_blocked_topk_sliced_path_hash_identical).
    The bound is per-collect/per-broadcast, NOT aggregate: each slice's
    numpy matrix lives in its mapInPandas closure and the slices union
    into one plan, so the driver transiently holds ~bound x n_slices
    until execution releases the broadcasts. Past ~10 slices the right
    fix is co-partitioning both sides on an IVF cell structure instead
    of rescanning — this path is the escape hatch, not the scale plan.
    """
    # Cheap bound probe: the common path (query set far below the slice
    # bound) must not pay a full count job — limit(bound+1) short-circuits
    # the scan as soon as bound+1 rows are seen.
    probe = queries.limit(_BLOCKED_QUERY_SLICE_ROWS + 1).count()
    if probe <= _BLOCKED_QUERY_SLICE_ROWS:
        return _rank_topk(_blocked_candidates(spark, base, queries))
    # Boundary ids: every bound-th query_id in sorted order. The ranking
    # window runs over the id PROJECTION only (8 B/row) and the collect
    # is O(n_slices) — the gated quantity (the q x 64-float matrix) never
    # exceeds the bound in any slice, by construction (query_id is unique).
    bound = _BLOCKED_QUERY_SLICE_ROWS
    w = Window.orderBy("query_id")
    starts = [
        r.query_id
        for r in (
            queries.select("query_id")
            .withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") - 1) % bound == 0)
            .select("query_id")
            .collect()
        )
    ]
    cand = None
    for s, lo in enumerate(starts):
        part_q = queries.filter(F.col("query_id") >= lo)
        if s + 1 < len(starts):
            part_q = part_q.filter(F.col("query_id") < starts[s + 1])
        part = _blocked_candidates(spark, base, part_q)
        cand = part if cand is None else cand.unionByName(part)
    return _rank_topk(cand)


def _blocked_candidates(
    spark: SparkSession, base: DataFrame, queries: DataFrame
) -> DataFrame:
    """Stage 1 of :func:`_ann_exact_blocked` for ONE query slice: collect
    + broadcast this slice's query matrix, scan the base once, emit the
    margin-kept candidates with 9-dp rounded cosines."""
    import numpy as np
    import pandas as pd

    qrows = queries.select("query_id", "q_emb").collect()
    if not qrows:
        # Defensive invariant: range slices are non-empty by construction
        # (each starts at an existing query_id), but an empty input frame
        # still needs a shape-stable empty candidate frame.
        return spark.createDataFrame(
            [], "query_id long, vec_id long, cosine double"
        )
    qrows.sort(key=lambda r: r.query_id)
    qids = np.array([r.query_id for r in qrows], dtype=np.int64)
    QM = np.array([r.q_emb for r in qrows], dtype=np.float64)
    qn = np.zeros(len(qids))
    for i in range(QM.shape[1]):
        qn += QM[:, i] * QM[:, i]
    qn = np.sqrt(qn)
    bc = spark.sparkContext.broadcast((qids, QM, qn))
    k = TOP_K

    def go(it):
        b_qids, b_QM, b_qn = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            A = np.array(list(pdf["embedding"]), dtype=np.float64)
            vids = np.asarray(pdf["vec_id"], dtype=np.int64)
            na = np.zeros(len(A))
            for i in range(A.shape[1]):
                na += A[:, i] * A[:, i]
            rna = np.sqrt(na)
            out_q, out_v, out_raw = [], [], []
            for s in range(0, len(b_qids), _Q_CHUNK):
                Qc = b_QM[s : s + _Q_CHUNK]
                acc = np.zeros((len(A), len(Qc)))
                for i in range(A.shape[1]):
                    acc += A[:, i : i + 1] * Qc[:, i][None, :]
                cos = acc / (rna[:, None] * b_qn[s : s + _Q_CHUNK][None, :])
                # self-pairs never compete nor emit (brute joins on
                # vec_id != query_id)
                self_mask = vids[:, None] == b_qids[s : s + _Q_CHUNK][None, :]
                cos[self_mask] = -np.inf
                if len(A) > k:
                    kth = np.partition(cos, len(A) - k, axis=0)[len(A) - k, :]
                    keep = cos >= (kth - _BLOCK_TIE_MARGIN)[None, :]
                else:
                    keep = ~self_mask
                keep &= ~self_mask
                rows_i, cols_j = np.nonzero(keep)
                out_q.append(b_qids[s + cols_j])
                out_v.append(vids[rows_i])
                out_raw.append(cos[rows_i, cols_j])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "vec_id": np.concatenate(out_v),
                        "raw": np.concatenate(out_raw),
                    }
                )

    cand = base.select("vec_id", "embedding").mapInPandas(
        go, schema="query_id long, vec_id long, raw double"
    )
    return cand.select(
        "query_id", "vec_id", F.round(F.col("raw"), 9).alias("cosine")
    )


def ann_cosine_topk(
    spark: SparkSession, sf_dir: str, fixed_q: int | None = None
) -> DataFrame:
    """Registry entry: EXACT top-k cosine neighbors per query vector.

    Two-stage blocked-scan form (r10): stage 1 generates a provably
    sufficient candidate set in one shuffle-free vectorized pass, stage 2
    re-ranks it exactly (:func:`_ann_exact_blocked`). Bit-identical to
    the JOIN brute (same IEEE scoring sequence, same rounding, same
    tie-break) — the DuckDB oracle is unchanged.

    The blocked scan runs at every size: measured against the brute
    (scripts/ann_crossover.py --topk, local[32], best-of-2, noop sink) it
    wins at n=500 (0.32 vs 0.47 s), 2k (0.25 vs 0.72), 20k (0.39 vs 3.29)
    and 200k (22.7 vs a fitted ~260 s; the r9 driver sweep measured 393 s)
    — the crossover sits below the smallest fixture. The brute stays the
    independent implementation the equivalence tests and recall scripts
    compare against. Replaces the repo's one above-linear scaling row:
    sf0.1->sf10 exponent 1.36 -> 0.98, sf10 time 393 s -> 22.7 s. The
    residual n*q work is the entry's own definition (q = n/100); at a
    fixed production query budget the scan is linear in n.
    """
    base = _emb(spark, sf_dir)
    queries = _query_vectors(base, fixed_q).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    return _ann_exact_blocked(spark, base, queries)


def ann_topk_sql(q_where: str) -> str:
    """DuckDB twin of :func:`ann_cosine_topk` for the given query-set
    predicate (:func:`_q_where`)."""
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
  WHERE {q_where}
),
scored AS (
  SELECT q.query_id, e.vec_id, {duck_cosine('q.q_emb', 'e.embedding')} AS cosine
  FROM embeddings e JOIN q ON e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
"""


ANN_TOPK_SQL = ann_topk_sql(_q_where())


def _centroids(spark: SparkSession, base: DataFrame):
    """Collect + broadcast the centroid matrix.

    Selection is a FIXED-COUNT deterministic sample: the k = n_centroids(n)
    vectors with the smallest ``hash48(vec_id)`` (md5-derived, identical in
    DuckDB — see functions.duckdb_hash48), vec_id as tie-break. The hash
    order is a uniform pseudo-random spread, and ``orderBy(...).limit(k)``
    compiles to TakeOrderedAndProject — a per-partition top-k merge, not a
    global sort, so selection is one cheap scan and the driver collect is
    O(k) <= K_CENTROIDS rows regardless of base size. Norms accumulate
    dimension-ordered so every downstream cosine is bit-identical to the
    oracle's sequential list_reduce."""
    import numpy as np

    k = n_centroids(base.count())
    rows = (
        base.select("vec_id", "embedding")
        .withColumn("__h", hash48(F.col("vec_id").cast("string")))
        .orderBy("__h", "vec_id")
        .limit(k)
        .select("vec_id", "embedding")
        .collect()
    )
    # matrix stays cent_id-sorted: argmax ties resolve to the lowest cent_id
    rows.sort(key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    C = np.array([r.embedding for r in rows], dtype=np.float64)
    nc = np.zeros(len(ids))
    for i in range(C.shape[1]):
        nc += C[:, i] * C[:, i]
    return spark.sparkContext.broadcast((ids, C, np.sqrt(nc)))


def assign_cells(
    spark: SparkSession,
    base: DataFrame,
    nprobe: int = 1,
    cents_from: DataFrame | None = None,
    bc=None,
    keep_embedding: bool = False,
) -> DataFrame:
    """Nearest-centroid assignment via broadcast numpy matrix + mapInPandas.

    One Arrow-batched pass over the base table, no shuffle, no join: each
    batch scores rows×centroids with a dimension-ordered accumulation loop
    (identical IEEE sequence to the oracle's sequential sum — numpy only
    vectorizes ACROSS pairs) and emits the ``nprobe`` best cells. Raw
    (unrounded) cosines order the cells; ties break to the lowest cent_id
    (first argmax index — the centroid matrix is cent_id-sorted). Measured
    ~40x faster than the interpreted higher-order-aggregate join formulation
    at sf0.1 (160k pairs: 6.1 s -> the Arrow pass is sub-second).

    ``bc``: precomputed :func:`_centroids` broadcast — pass it when several
    assignment passes share one quantizer so the centroid selection (a
    count + a TakeOrdered collect + a broadcast) runs ONCE per query, not
    once per pass (r11, part of the ann_ivf_topk drift repayment).
    ``keep_embedding``: emit each row's embedding through the pass, so
    callers that need (cell, embedding) together skip a full shuffle join
    of the base table back onto its own assignment — at 100 TB that join
    IS the cost of the build phase; the pass-through is free (the column
    is already in the Arrow batch).
    """
    import numpy as np
    import pandas as pd

    if bc is None:
        # centroids come from the FULL base table even when assigning a
        # subset (e.g. probing cells for the query rows only)
        bc = _centroids(spark, base if cents_from is None else cents_from)

    def go(it):
        cids, CM, cn = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            A = np.array(list(pdf["embedding"]), dtype=np.float64)
            acc = np.zeros((len(A), len(cids)))
            na = np.zeros(len(A))
            for i in range(A.shape[1]):
                acc += A[:, i : i + 1] * CM[:, i][None, :]
                na += A[:, i] * A[:, i]
            cos = acc / (np.sqrt(na)[:, None] * cn[None, :])
            # clamp to the centroid count: probing wider than the cell
            # structure just means probing every cell (the oracle's
            # `crank <= nprobe` yields the same min(nprobe, n_cells) rows)
            k = min(nprobe, len(cids))
            if k == 1:
                best = cos.argmax(axis=1)  # first max == lowest cent_id
                out = {"vec_id": pdf["vec_id"], "crank": 1, "cell": cids[best]}
                if keep_embedding:
                    out["embedding"] = pdf["embedding"]
                yield pd.DataFrame(out)
            else:
                # stable sort keeps cent_id order among raw-equal cosines
                order = np.argsort(-cos, axis=1, kind="stable")[:, :k]
                n = len(A)
                out = {
                    "vec_id": np.repeat(np.asarray(pdf["vec_id"]), k),
                    "crank": np.tile(np.arange(1, k + 1), n),
                    "cell": cids[order].reshape(-1),
                }
                if keep_embedding:
                    out["embedding"] = np.repeat(
                        pdf["embedding"].to_numpy(), k
                    )
                yield pd.DataFrame(out)

    schema = "vec_id long, crank int, cell long"
    if keep_embedding:
        schema += ", embedding array<double>"
    return base.select("vec_id", "embedding").mapInPandas(go, schema=schema)


def _score_pairs_np(df: DataFrame, a_col: str, b_col: str, keep: list[str]) -> DataFrame:
    """Raw cosine for each row's (a_col, b_col) array pair via mapInPandas.

    Dimension-ordered float64 accumulation — per pair the identical IEEE
    sequence as the oracle's sequential list_reduce; numpy vectorizes only
    ACROSS pairs. Returns ``keep`` columns + ``raw`` (unrounded; callers
    round in Spark where HALF_UP matches the oracle's round()).
    """
    import numpy as np
    import pandas as pd

    def go(it):
        for pdf in it:
            if not len(pdf):
                continue
            A = np.array(list(pdf[a_col]), dtype=np.float64)
            B = np.array(list(pdf[b_col]), dtype=np.float64)
            acc = np.zeros(len(A))
            na = np.zeros(len(A))
            nb = np.zeros(len(A))
            for i in range(A.shape[1]):
                acc += A[:, i] * B[:, i]
                na += A[:, i] * A[:, i]
                nb += B[:, i] * B[:, i]
            out = {c: pdf[c] for c in keep}
            out["raw"] = acc / (np.sqrt(na) * np.sqrt(nb))
            yield pd.DataFrame(out)

    schema = ", ".join(f"{c} long" for c in keep) + ", raw double"
    return df.select(*keep, a_col, b_col).mapInPandas(go, schema=schema)


def ann_ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = NPROBE,
    fixed_q: int | None = None,
) -> DataFrame:
    """IVF cell-probe approximate top-k.

    Coarse quantizer: a fixed-count deterministic sample of the base table
    (k = n_centroids(n) vectors with the smallest hash48(vec_id) — see
    _centroids). Build phase assigns every base vector to its nearest
    centroid (broadcast numpy argmax in one mapInPandas pass — no shuffle of
    the base table). Query phase probes the ``nprobe`` nearest cells only —
    the recall/cost knob: scan cost per query is ~|base| * nprobe / n_cells,
    recall@k rises with nprobe (measured table in SCALE.md; recall floor
    asserted in tests/test_similarity.py). ``ann_ivf_topk_multiprobe`` is
    the registered wide-probe (nprobe = NPROBE_WIDE) form.
    """
    base = _emb(spark, sf_dir)

    # ONE quantizer for both assignment passes (r11): _centroids costs a
    # count + a TakeOrdered collect + a broadcast — running it per pass
    # (as before) doubled that fixed cost for zero benefit, since both
    # passes must share the cell structure anyway.
    bc = _centroids(spark, base)
    # keep_embedding threads each vector through its own assignment, so
    # neither side pays a shuffle join back onto the base table (the old
    # base ⋈ assign and probes ⋈ queries joins — at scale the former was
    # a full shuffle of the corpus).
    base_cells = assign_cells(
        spark, base, nprobe=1, bc=bc, keep_embedding=True
    ).select("vec_id", "cell", "embedding")
    probe_q = assign_cells(
        spark,
        _query_vectors(base, fixed_q),
        nprobe=nprobe,
        bc=bc,
        keep_embedding=True,
    ).select(
        F.col("vec_id").alias("query_id"),
        "cell",
        F.col("embedding").alias("q_emb"),
    )

    # No (query, candidate) dedup is needed: the build assignment is
    # nprobe=1, so every candidate lives in EXACTLY one cell and a pair
    # can only be produced through that single cell however many cells
    # the query probes — the oracle's post-scoring DISTINCT is a no-op
    # on the same grounds.
    cand = base_cells.join(broadcast(probe_q), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = _score_pairs_np(cand, "q_emb", "embedding", ["query_id", "vec_id"]).select(
        "query_id", "vec_id", F.round(F.col("raw"), 9).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "cosine", "rank")
    )


# DuckDB twin of _centroids' fixed-count hash-ordered sample.
CENTS_SQL = f"""
  SELECT cent_id, c_emb FROM (
    SELECT vec_id AS cent_id, embedding AS c_emb,
           ROW_NUMBER() OVER (
             ORDER BY {duckdb_hash48("CAST(vec_id AS VARCHAR)")} ASC, vec_id ASC
           ) AS hr
    FROM embeddings
  ) WHERE hr <= (
    SELECT LEAST({K_CENTROIDS},
                 GREATEST(1, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)))
    FROM embeddings
  )
"""

def ann_ivf_sql(nprobe: int, q_where: str | None = None) -> str:
    """DuckDB twin of :func:`ann_ivf_topk` at the given probe width and
    query-set predicate (default: the proportional contract)."""
    q_where = q_where or _q_where()
    return f"""
WITH cents AS (
{CENTS_SQL}
),
{duck_assign_ctes('embeddings')},
q AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
  WHERE {q_where}
),
probes AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, c.cent_id AS cell,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {duck_cosine_raw('q.q_emb', 'c.c_emb')} DESC,
                                       c.cent_id ASC) AS crank
    FROM q CROSS JOIN cents c
  ) WHERE crank <= {nprobe}
),
scored AS (
  SELECT DISTINCT p.query_id, e.vec_id,
         {duck_cosine('q.q_emb', 'e.embedding')} AS cosine
  FROM probes p
  JOIN assign a ON a.cell = p.cell
  JOIN embeddings e ON e.vec_id = a.vec_id
  JOIN q ON q.query_id = p.query_id
  WHERE e.vec_id <> p.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
"""


ANN_IVF_SQL = ann_ivf_sql(NPROBE)

# Wide-probe form: the standard IVF answer to "recall too low at nprobe=3"
# is more probes, not more centroids — scan cost grows linearly in nprobe
# while the cell structure (and its build pass) is unchanged. Registered as
# its own entry so the driver's oracle gate pins BOTH points of the
# recall/cost curve (the curve itself is measured in scripts/ann_recall.py,
# table in SCALE.md).
NPROBE_WIDE = 6


def ann_ivf_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`ann_ivf_topk` probing NPROBE_WIDE cells per query."""
    return ann_ivf_topk(spark, sf_dir, nprobe=NPROBE_WIDE)


ANN_IVF_MULTIPROBE_SQL = ann_ivf_sql(NPROBE_WIDE)


MAX_BRUTE_ROWS = 3_500  # MEASURED brute/IVF crossover, not a memory bound:
# scripts/ann_crossover.py (local[32], 64-dim, best-of-2, noop sink) fit
# brute = 0.93 + 5.48e-8*n^2 against ivf = 1.04 + 1.93e-4*(n-500) from
# n = 500/2k/20k measured points (22.9 s vs 3.9 s at n=20k; predicted
# ~2 200 s vs measured 39.5 s at n=200k) -> curves cross at n ~= 3 600.
# The old 200_000 value (100 MB broadcast heuristic) kept the quadratic
# path winning its legal window on memory grounds while losing it on TIME
# 6x over by n=20k. Crossover table in SCALE.md; boundary delegation
# pinned in tests/test_similarity.py.


def embedding_near_dup(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.45,
    max_brute_rows: int = MAX_BRUTE_ROWS,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= threshold).

    Brute-force O(n^2/2) pair scan — correct but quadratic. The
    ``max_brute_rows`` gate delegates oversized inputs to
    :func:`embedding_near_dup_ivf` (the cell-restricted exact-within-cell
    scan — the 100 TB path, documented approximate across cells); since r7
    the default sits at the MEASURED time crossover between the two paths
    (scripts/ann_crossover.py, table in SCALE.md), not at the broadcast
    memory bound — the collect stayed "legal" long after the quadratic
    scan stopped being the fastest answer. The oracle SQL mirrors the
    gate branch-for-branch. The fixture's embeddings top out near 0.51
    cosine, hence the 0.45 default.
    """
    import math

    import numpy as np
    import pandas as pd

    e = _emb(spark, sf_dir)
    if e.count() > max_brute_rows:
        return embedding_near_dup_ivf(spark, sf_dir, threshold)

    # Broadcast-matrix scoring: the base side is collected to a numpy matrix
    # and broadcast (512 KB here — same memory contract as a broadcast-hash
    # join's build side), then mapInPandas scores each partition's vectors
    # against the matrix vectorized across rows. JVM alternatives measured
    # at sf0.1: interpreted higher-order aggregate ~20 s, unrolled codegen
    # expression worse (JIT limits); this path ~2 s.
    #
    # Bit-exactness with the DuckDB oracle is preserved because accumulation
    # stays dimension-ordered: acc += M[:,i] * a[i] iterates i left-to-right
    # — per pair the identical IEEE operation sequence as the sequential
    # list_reduce the oracle uses. numpy only vectorizes ACROSS pairs.
    rows = e.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    M = np.array([r.embedding for r in rows], dtype=np.float64)
    norms = np.zeros(len(ids))
    for i in range(M.shape[1]):
        norms += M[:, i] * M[:, i]
    norms = np.sqrt(norms)
    bc = spark.sparkContext.broadcast((ids, M, norms))
    # loose raw-value prefilter in Python; the exact HALF_UP rounding +
    # threshold happens in Spark where it matches the oracle's round()
    raw_cut = threshold - 1e-8

    def score(it):
        b_ids, b_M, b_norms = bc.value
        for pdf in it:
            out_a, out_b, out_raw = [], [], []
            A = np.array(list(pdf["embedding"]), dtype=np.float64)
            for j, vid in enumerate(pdf["vec_id"]):
                a = A[j]
                acc = np.zeros(len(b_ids))
                na = 0.0
                for i in range(len(a)):
                    acc += b_M[:, i] * a[i]
                    na += a[i] * a[i]
                cos = acc / (b_norms * math.sqrt(na))
                mask = (b_ids > vid) & (cos >= raw_cut)
                out_a.extend([vid] * int(mask.sum()))
                out_b.extend(b_ids[mask])
                out_raw.extend(cos[mask])
            yield pd.DataFrame({"vec_a": out_a, "vec_b": out_b, "raw": out_raw})

    cand = e.select("vec_id", "embedding").mapInPandas(
        score, schema="vec_a long, vec_b long, raw double"
    )
    return cand.select(
        "vec_a", "vec_b", F.round(F.col("raw"), 9).alias("cosine")
    ).filter(F.col("cosine") >= threshold)


# Oracle mirrors the Spark-side size gate: brute pairs at or below
# MAX_BRUTE_ROWS embeddings, the IVF cell-restricted scan above it. Each
# branch's JOIN SOURCE is emptied (not just post-filtered) by the gate
# predicate so DuckDB never materializes the disabled branch's quadratic
# join at scale.
EMB_NEAR_DUP_SQL = f"""
WITH cents AS (
{CENTS_SQL}
),
gate AS (SELECT (COUNT(*) <= {MAX_BRUTE_ROWS}) AS use_brute FROM embeddings),
bsrc AS (SELECT * FROM embeddings WHERE (SELECT use_brute FROM gate)),
isrc AS (SELECT * FROM embeddings WHERE NOT (SELECT use_brute FROM gate)),
{duck_assign_ctes('isrc')},
cells AS (
  SELECT a.vec_id, a.cell, e.embedding
  FROM assign a JOIN isrc e ON e.vec_id = a.vec_id
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {duck_cosine('a.embedding', 'b.embedding')} AS cosine
FROM bsrc a JOIN bsrc b ON a.vec_id < b.vec_id
WHERE {duck_cosine('a.embedding', 'b.embedding')} >= 0.45
UNION ALL
SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
       {duck_cosine('x.embedding', 'y.embedding')} AS cosine
FROM cells x JOIN cells y ON x.cell = y.cell AND x.vec_id < y.vec_id
WHERE {duck_cosine('x.embedding', 'y.embedding')} >= 0.45
"""


QUERIES = {
    "ann_cosine_topk": ann_cosine_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_ivf_topk_multiprobe": ann_ivf_topk_multiprobe,
    "embedding_near_dup": embedding_near_dup,
}

ORACLES = {
    "ann_cosine_topk": ANN_TOPK_SQL,
    "ann_ivf_topk": ANN_IVF_SQL,
    "ann_ivf_topk_multiprobe": ANN_IVF_MULTIPROBE_SQL,
    "embedding_near_dup": EMB_NEAR_DUP_SQL,
}


def embedding_near_dup_ivf(
    spark: SparkSession, sf_dir: str, threshold: float = 0.45
) -> DataFrame:
    """Near-duplicate pairs restricted to IVF cells — the 100 TB path.

    The brute-force variant scores n^2/2 pairs; this one only scores pairs
    whose vectors share a coarse cell (same deterministic quantizer as
    ann_ivf_topk), turning the pair scan into per-cell joins — at scale,
    cells are the partitioning key and no cross-cell pair is ever
    materialized. Recall vs brute force is what you trade; the pair (a, b)
    is found iff both land in the same cell.
    """
    base = _emb(spark, sf_dir)
    # keep_embedding: the assignment pass carries each vector's embedding
    # through, so the cell structure never shuffle-joins back onto the
    # base table (r11 — same join elimination as ann_ivf_topk).
    cells = assign_cells(spark, base, nprobe=1, keep_embedding=True).select(
        "vec_id", "cell", "embedding"
    )
    a = cells.select(
        F.col("cell").alias("cell_a"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
    )
    b = cells.select(
        F.col("cell").alias("cell_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
    )
    pairs = a.join(
        b, (F.col("cell_a") == F.col("cell_b")) & (F.col("vec_a") < F.col("vec_b"))
    ).select("vec_a", "vec_b", "ea", "eb")

    # In-cell pair scoring via the shared Arrow-batched dimension-ordered
    # numpy loop (identical IEEE sequence to the oracle's sequential sums);
    # the exact HALF_UP round + threshold stay in Spark where they match
    # the oracle's round().
    scored = _score_pairs_np(pairs, "ea", "eb", ["vec_a", "vec_b"])
    return scored.select(
        "vec_a", "vec_b", F.round(F.col("raw"), 9).alias("cosine")
    ).filter(F.col("cosine") >= threshold)


EMB_NEAR_DUP_IVF_SQL = f"""
WITH cents AS (
{CENTS_SQL}
),
{duck_assign_ctes('embeddings')},
cells AS (
  SELECT a.vec_id, a.cell, e.embedding
  FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id
)
SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
       {duck_cosine('x.embedding', 'y.embedding')} AS cosine
FROM cells x JOIN cells y ON x.cell = y.cell AND x.vec_id < y.vec_id
WHERE {duck_cosine('x.embedding', 'y.embedding')} >= 0.45
"""

QUERIES["embedding_near_dup_ivf"] = embedding_near_dup_ivf
ORACLES["embedding_near_dup_ivf"] = EMB_NEAR_DUP_IVF_SQL


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding hygiene stats: count, mean/min/max L2 norm.

    The sanity pass a pipeline runs before similarity search (unnormalized
    or zero vectors poison cosine indexes). Norms via the sequential
    higher-order aggregate (oracle-exact); one partial-aggregated shuffle
    on the (tiny-cardinality) label key.
    """
    e = _emb(spark, sf_dir)
    norm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return (
        e.select(F.col("label"), norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg("norm"), 6).alias("mean_norm"),
            F.round(F.min("norm"), 6).alias("min_norm"),
            F.round(F.max("norm"), 6).alias("max_norm"),
        )
    )


EMB_NORM_STATS_SQL = f"""
WITH n AS (
  SELECT label, {_duck_norm('embedding', EMBED_DIM)} AS norm FROM embeddings
)
SELECT label, COUNT(*) AS n_vectors,
       round(AVG(norm), 6) AS mean_norm,
       round(MIN(norm), 6) AS min_norm,
       round(MAX(norm), 6) AS max_norm
FROM n GROUP BY label
"""

QUERIES["embedding_norm_stats"] = embedding_norm_stats
ORACLES["embedding_norm_stats"] = EMB_NORM_STATS_SQL


# SRP-LSH ANN ------------------------------------------------------------------

# Band layout: 8 bands x 8 bits. Sized from the measured cost/recall
# frontier (scripts/srp_tune.py; table in SCALE.md): a band of b bits
# collides for an unrelated pair with probability ~2^-b, so candidates per
# query ~ n * bands / 2^bits_per_band. The original 4x4 layout collided on
# 1/16 of the corpus per band — candidates ~ n/4, only a 4x prune over
# brute force, which the 100x scaling sweep exposed as quadratic wall-time
# (441 s at 200k vectors). 8x8 measures 24-27x prune. Recall on the
# deliberately-uniform fixture drops (0.08-0.20 vs 0.32-0.49 — top-5
# "neighbors" there sit at cos ~0.4, barely above random, the adversarial
# case for ANY LSH family), while in the high-similarity regime the
# operator exists for the collision math holds it high: at cos 0.95,
# p_bit = 1 - theta/pi = 0.90, per-band 0.90^8 = 0.43, across 8 bands
# 1 - (1-0.43)^8 = 98.8% — pinned by the planted-neighbor recall test.
SRP_BANDS = 8
SRP_BITS = 64  # SRP_BANDS bands x 8 bits
_SRP_ROWS_PER_BAND = SRP_BITS // SRP_BANDS


def _srp_signs() -> list[list[int]]:
    """Deterministic Rademacher (+/-1) projection matrix, SRP_BITS x EMBED_DIM.

    Derived from md5 so both engines see the SAME hyperplanes: the matrix
    is generated once here and embedded as literals in the Spark plan and
    the DuckDB SQL alike — no cross-engine RNG to reconcile.
    """
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"srp:{j}:{i}".encode()).hexdigest()[:8], 16) % 2 == 0 else -1
            for i in range(EMBED_DIM)
        ]
        for j in range(SRP_BITS)
    ]


def _srp_signatures(df: DataFrame) -> DataFrame:
    """(vec_id, embedding, bands[SRP_BANDS]) via one Arrow-batched pass.

    Each projection accumulates dimension-by-dimension (acc += A[:, i] *
    sign_ji, i ascending) — numpy vectorizes only ACROSS rows, so per row
    the IEEE sequence is exactly the oracle's sequential list_reduce fold
    and the sign bit (proj >= 0) agrees bit-for-bit (the same argument as
    _score_pairs_np). A 16x64-term column-expression chain would be
    semantically identical but measured ~15 s at sf0.1 in Catalyst
    analysis/codegen alone; this pass is ~0.3 s. Band values pack
    _SRP_ROWS_PER_BAND sign bits into an integer. Scan-side: no shuffle,
    nothing wider than the input row plus 4 longs.
    """
    import numpy as np
    import pandas as pd

    signs = np.array(_srp_signs(), dtype=np.float64)
    rpb = _SRP_ROWS_PER_BAND

    def go(it):
        for pdf in it:
            if not len(pdf):
                continue
            A = np.array(list(pdf["embedding"]), dtype=np.float64)
            n = len(A)
            bits = np.zeros((SRP_BITS, n), dtype=np.int64)
            for j in range(SRP_BITS):
                acc = np.zeros(n)
                for i in range(EMBED_DIM):
                    acc += A[:, i] * signs[j, i]
                bits[j] = acc >= 0
            bands = np.zeros((SRP_BANDS, n), dtype=np.int64)
            for b in range(SRP_BANDS):
                for m in range(rpb):
                    bands[b] += bits[b * rpb + m] << (rpb - 1 - m)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "embedding": pdf["embedding"],
                    "bands": list(bands.T),
                }
            )

    return df.select("vec_id", "embedding").mapInPandas(
        go, schema="vec_id long, embedding array<float>, bands array<long>"
    )


def ann_srp_topk(
    spark: SparkSession, sf_dir: str, fixed_q: int | None = None
) -> DataFrame:
    """LSH-bucketed ANN top-k via signed random projections.

    The second scale path next to IVF (ann_ivf_topk): 64 hyperplane sign
    bits per vector, banded 8x8 — vectors agreeing with a query on ALL
    bits of ANY band become candidates (P[bit agree] = 1 - theta/pi, the
    SRP guarantee), then candidates are scored exactly and ranked. Band
    layout sized from the measured frontier (see the SRP_BANDS note and
    scripts/srp_tune.py): ~2^-8 collision per band keeps candidates near
    n * 8/256 = n/32 per query, a measured 24-27x prune over brute force.

    Scale shape: signatures are computed scan-side in one Arrow batch pass
    (zero shuffle); the query band table is tiny — its signatures come
    from a pre-filtered 1/QUERY_MOD scan — and broadcasts, so candidate
    generation is a map-side equi-join on (band, value) — the base table
    is never shuffled for probing. Only the deduped candidate pairs (a
    vanishing fraction of n x q) reach the exact scorer and the per-query
    top-k window. Unlike IVF there is no centroid state at all — the
    "index" is 64 fixed hyperplanes, so incremental ingest needs no
    retraining.
    """
    base = _emb(spark, sf_dir)
    sigs = _srp_signatures(base).select(
        "vec_id",
        "embedding",
        F.posexplode(F.col("bands")).alias("band_idx", "band_val"),
    )
    q_sigs = _srp_signatures(_query_vectors(base, fixed_q)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.posexplode(F.col("bands")).alias("q_band_idx", "q_band_val"),
    )
    # Score BEFORE deduping, while both embeddings are still map-side from
    # the broadcast join — then only NARROW (query_id, vec_id, cosine)
    # rows ever cross an Exchange. The r12 sf100 spot-check caught the old
    # shape (dedup first, embeddings riding the pair shuffle) writing
    # ~700 B/pair of sort spill — at the 1000x fixture that was >76 GB of
    # disk for ~10^9 pre-dedup collisions, a genuine 100 TB killer. A pair
    # colliding in k bands is now scored k times (identical IEEE sequence
    # -> identical rows, so the aggregate dedup below is exact), trading
    # a few redundant map-side FLOPs for ~30x less shuffle.
    cand = sigs.join(
        broadcast(q_sigs),
        (F.col("band_idx") == F.col("q_band_idx"))
        & (F.col("band_val") == F.col("q_band_val"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", "vec_id", "q_emb", "embedding")
    scored = (
        _score_pairs_np(cand, "q_emb", "embedding", ["query_id", "vec_id"])
        .select("query_id", "vec_id", F.round(F.col("raw"), 9).alias("cosine"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def _duck_srp_bands() -> str:
    """SQL expression list mirroring _srp_signatures: one left-fold
    projection per bit, packed into SRP_BANDS integer band values."""
    signs = _srp_signs()
    band_exprs = []
    for b in range(SRP_BANDS):
        bit_terms = []
        for m in range(_SRP_ROWS_PER_BAND):
            j = b * _SRP_ROWS_PER_BAND + m
            # flat left-associated chain == the numpy pass's dimension-
            # ordered accumulation == the old list_reduce fold, but DuckDB
            # evaluates it vectorized (26.6x measured — see the cosine
            # helpers' note)
            proj = "(" + " + ".join(
                f"CAST(embedding[{i + 1}] AS DOUBLE) * ({float(signs[j][i])})"
                for i in range(EMBED_DIM)
            ) + ")"
            bit_terms.append(
                f"CAST({proj} >= 0 AS INTEGER) * {1 << (_SRP_ROWS_PER_BAND - 1 - m)}"
            )
        band_exprs.append(" + ".join(bit_terms))
    return ", ".join(band_exprs)


def ann_srp_sql(q_where: str | None = None) -> str:
    """DuckDB twin of :func:`ann_srp_topk` for the given query-set
    predicate (default: the proportional contract)."""
    q_where = q_where or _q_where()
    return f"""
WITH sigs AS (
  SELECT vec_id, embedding, u.band_idx - 1 AS band_idx, bands[u.band_idx] AS band_val
  FROM (SELECT vec_id, embedding, [{_duck_srp_bands()}] AS bands FROM embeddings),
       unnest(generate_series(1, {SRP_BANDS})) AS u(band_idx)
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, q.embedding AS q_emb, s.vec_id, s.embedding
  FROM sigs s
  JOIN (SELECT * FROM sigs WHERE {q_where}) q
    ON s.band_idx = q.band_idx AND s.band_val = q.band_val AND s.vec_id <> q.vec_id
),
scored AS (
  SELECT query_id, vec_id, {duck_cosine('q_emb', 'embedding')} AS cosine FROM cand
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
"""


ANN_SRP_SQL = ann_srp_sql()

QUERIES["ann_srp_topk"] = ann_srp_topk
ORACLES["ann_srp_topk"] = ANN_SRP_SQL


# --- Workload-constant ANN twins ---------------------------------------------
#
# The three registry ANN entries define their query set as vec_id %
# QUERY_MOD == 0, i.e. q = n/100: scored-pair work grows as n*q = n^2/100,
# so their measured decade exponents rise toward 2.0 BY CONSTRUCTION and
# the scaling law cannot vouch for the production contract ("the query
# budget is a workload constant, so serving cost is linear in corpus
# size"). These twins hold q at FIXED_Q vectors at every scale factor —
# same plans, same oracles modulo the query predicate — giving the law a
# fixed-q arm whose expected exponent is ~1.0 for the brute scan (q*n
# pairs) and below it for IVF/SRP (per-query probe cost grows slower than
# n). SCALE.md "Fixed-q ANN arm" discusses the measured numbers.


def ann_cosine_topk_fixedq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`ann_cosine_topk` with the workload-constant query set
    (vec_id < FIXED_Q) — exact top-k, cost linear in corpus size."""
    return ann_cosine_topk(spark, sf_dir, fixed_q=FIXED_Q)


def ann_ivf_topk_fixedq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`ann_ivf_topk` with the workload-constant query set."""
    return ann_ivf_topk(spark, sf_dir, fixed_q=FIXED_Q)


def ann_srp_topk_fixedq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`ann_srp_topk` with the workload-constant query set."""
    return ann_srp_topk(spark, sf_dir, fixed_q=FIXED_Q)


QUERIES["ann_cosine_topk_fixedq"] = ann_cosine_topk_fixedq
ORACLES["ann_cosine_topk_fixedq"] = ann_topk_sql(_q_where(FIXED_Q))
QUERIES["ann_ivf_topk_fixedq"] = ann_ivf_topk_fixedq
ORACLES["ann_ivf_topk_fixedq"] = ann_ivf_sql(NPROBE, _q_where(FIXED_Q))
QUERIES["ann_srp_topk_fixedq"] = ann_srp_topk_fixedq
ORACLES["ann_srp_topk_fixedq"] = ann_srp_sql(_q_where(FIXED_Q))


# --- Distributed k-means over the embedding column (iterative algorithm) ----
#
# Lloyd's algorithm with every arithmetic step in EXACT 64-bit integers so the
# DuckDB oracle can replay it bit-for-bit: embeddings are quantized to
# floor(x * KMEANS_SCALE) + KMEANS_OFFSET (the offset keeps every coordinate
# positive, so Spark's `div` — truncation toward zero — and DuckDB's `//` —
# floor — agree on the centroid means). Distances are integer squared
# euclidean; argmin ties break on the lower centroid id. Floating-point
# k-means cannot be hash-checked across engines (summation-order drift flips
# near-tie assignments); integer k-means can, and loses nothing at 3-decimal
# quantization.
#
# Scale shape: each iteration is one crossJoin(broadcast(K centroids)) over
# the base table (no base shuffle) + one posexplode/groupBy((cid, dim))
# partial-aggregated shuffle of K x EMBED_DIM cells. Nothing is ever
# collected to the driver — the centroid "broadcast" is a K-row DataFrame.
# At 100 TB: raise K, keep iterations bounded, identical plan.

KMEANS_K = 8
KMEANS_SCALE = 1000
KMEANS_OFFSET = 20000
KMEANS_ITERS = 2  # assignment passes; centroids update between them


def _kmeans_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _emb(spark, sf_dir).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * KMEANS_SCALE).cast("long")
            + KMEANS_OFFSET,
        ).alias("q"),
    )


def _kmeans_assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: integer squared-euclidean argmin.

    r14: the K-row centroid side is aggregated into ONE broadcast row
    holding array<struct<cid, cq>> and the argmin runs per base row via
    array_min over (dist, cid) structs — the tie-break identical to the
    old window's orderBy(dist, cid). The previous shape exploded every
    vector into K pair rows and paid hashpartition(vec_id) Exchange +
    Sort over K·n rows (both 64-long arrays in flight) just to pick the
    per-vector minimum (sf10 A/B: 7.39/7.42 → 6.10/6.43 s min/med). A
    flat 64-term codegen distance chain was measured SLOWER (12.3 s at
    sf10: inside the transform lambda everything is interpreted anyway,
    and the fold evaluates fewer nodes than the unrolled chain).
    """
    c1 = cents.agg(F.collect_list(F.struct("cid", "cq")).alias("cents"))

    def dist_of(c):
        return F.aggregate(
            F.zip_with("q", c["cq"], lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    best = F.array_min(
        F.transform(
            "cents",
            lambda c: F.struct(dist_of(c).alias("dist"), c["cid"].alias("cid")),
        )
    )
    return vecs.crossJoin(broadcast(c1)).select(
        "vec_id", "q", best["cid"].alias("cid")
    )


def kmeans_clusters(
    spark: SparkSession, sf_dir: str, k: int = KMEANS_K, iters: int = KMEANS_ITERS
) -> DataFrame:
    """K-means cluster assignment after ``iters`` Lloyd iterations.

    Deterministic seeding: the k lowest vec_ids are the initial centroids.
    Between assignment passes, centroids update to the integer-floored
    per-dimension mean of their members (sum div count — exact in int64).
    """
    vecs = _kmeans_quantized(spark, sf_dir)
    # Seed = k lowest vec_ids. orderBy().limit(k) compiles to
    # TakeOrderedAndProject (distributed per-partition top-k + merge);
    # the row_number window then runs over K rows only. A global
    # row_number window here would sort the ENTIRE base in one partition
    # — the scale bug the 10x probe surfaced (WindowExec warning).
    seed = vecs.orderBy("vec_id").limit(k)
    w0 = Window.orderBy("vec_id")
    cents = seed.select(
        (F.row_number().over(w0) - 1).cast("int").alias("cid"),
        F.col("q").alias("cq"),
    )
    assigned = _kmeans_assign(vecs, cents)
    for _ in range(iters - 1):
        sums = (
            assigned.select("cid", F.posexplode("q").alias("pos", "v"))
            .groupBy("cid", "pos")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
        )
        cents = (
            sums.withColumn("m", F.expr("s div n"))
            .groupBy("cid")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
            )
            .select("cid", F.transform("pm", lambda st: st["m"]).alias("cq"))
        )
        assigned = _kmeans_assign(vecs, cents)
    return assigned.select("vec_id", F.col("cid").cast("int").alias("cluster"))


_DUCK_SQDIST = (
    "list_reduce(list_transform(range(1, len({a}) + 1), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
)

KMEANS_SQL = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {KMEANS_SCALE}) AS BIGINT)
                + {KMEANS_OFFSET}) AS q
  FROM embeddings
),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, q AS cq
  FROM e ORDER BY vec_id LIMIT {KMEANS_K}
),
d1 AS (
  SELECT e.vec_id, e.q, c.cid, {_DUCK_SQDIST.format(a='e.q', b='c.cq')} AS dist
  FROM e CROSS JOIN c0 c
),
a1 AS (
  SELECT vec_id, q, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d1
  ) WHERE rn = 1
),
sums AS (
  SELECT cid, i AS pos, SUM(q[i]) AS s, COUNT(*) AS n
  FROM a1, (SELECT unnest(range(1, {EMBED_DIM} + 1)) AS i)
  GROUP BY cid, i
),
c1 AS (
  SELECT cid, list(s // n ORDER BY pos) AS cq FROM sums GROUP BY cid
),
d2 AS (
  SELECT e.vec_id, c.cid, {_DUCK_SQDIST.format(a='e.q', b='c.cq')} AS dist
  FROM e CROSS JOIN c1 c
),
a2 AS (
  SELECT vec_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d2
  ) WHERE rn = 1
)
SELECT vec_id, CAST(cid AS INTEGER) AS cluster FROM a2
"""

QUERIES["kmeans_clusters"] = kmeans_clusters
ORACLES["kmeans_clusters"] = KMEANS_SQL


# --- Embedding quantization (int8 range compression) -------------------------
#
# Vector stores compress float embeddings to int8 before indexing; the
# engine-side op is per-vector min/max scaling + truncation quantization
# and a reconstruction-error audit. floor() (not round()) keeps every step
# in the IEEE-deterministic op set (+,-,*,/,floor,abs) — round-half
# behavior differs between engines, floor does not. mx == mn (constant
# vector) is guarded to error 0 in both engines.
#
# Scale shape: map-only array expressions over the base table — pipelines
# with the scan, no shuffle, no UDF.

QUANT_LEVELS = 255


def embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization audit: levels used + max reconstruction
    error (9 dp).

    Still map-only/zero-shuffle (plan-pinned), but staged through FOUR
    projections instead of one nested expression: building err->deq->q->
    x/mn/rng as one tree duplicates the array_min/array_max subtrees into
    every lambda (each reference re-substitutes the whole child expression),
    which evaluated O(dim^2)-ish per row — measured 2.6-4.3 s at sf0.1.
    With mn/rng materialized as plain columns the lambdas reference a
    BoundReference instead, and CollapseProject leaves non-cheap multiply-
    referenced projections alone: 0.12-0.32 s, same bit-exact arithmetic
    (operation order unchanged). Same family of fix as word_pagerank's
    re-tokenization (commit f3d6571).
    """
    e = _emb(spark, sf_dir)
    lv = F.lit(float(QUANT_LEVELS))
    d1 = e.select(
        "vec_id", F.transform("embedding", lambda v: v.cast("double")).alias("x")
    )
    d2 = d1.select(
        "vec_id",
        "x",
        F.array_min("x").alias("mn"),
        (F.array_max("x") - F.array_min("x")).alias("rng"),
    )
    q = F.transform(
        "x",
        lambda v: F.least(
            F.floor((v - F.col("mn")) * lv / F.col("rng")),
            F.lit(QUANT_LEVELS).cast("long"),
        ),
    )
    d3 = d2.select("vec_id", "x", "mn", "rng", q.alias("q"))
    deq = F.transform(
        "q", lambda b: F.col("mn") + b.cast("double") * F.col("rng") / lv
    )
    err = F.array_max(F.zip_with("x", deq, lambda a, b: F.abs(a - b)))
    return d3.select(
        "vec_id",
        F.when(F.col("rng") == 0, F.lit(1))
        .otherwise(F.size(F.array_distinct("q")))
        .cast("long")
        .alias("n_levels_used"),
        F.when(F.col("rng") == 0, F.lit(0.0))
        .otherwise(F.round(err, 9))
        .alias("max_abs_err"),
    )


EMB_QUANT_SQL = f"""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
  FROM embeddings
),
mm AS (
  SELECT vec_id, x, list_min(x) AS mn, list_max(x) AS mx, list_max(x) - list_min(x) AS rng
  FROM base
),
qd AS (
  SELECT vec_id, x, mn, rng,
         list_transform(x, v -> least(floor((v - mn) * {QUANT_LEVELS}.0 / rng),
                                      CAST({QUANT_LEVELS} AS BIGINT))) AS q
  FROM mm
)
SELECT vec_id,
       CASE WHEN rng = 0 THEN 1 ELSE len(list_distinct(q)) END AS n_levels_used,
       CASE WHEN rng = 0 THEN 0.0 ELSE
         round(list_max(list_transform(range(1, len(x) + 1),
               i -> abs(x[i] - (mn + q[i] * rng / {QUANT_LEVELS}.0)))), 9)
       END AS max_abs_err
FROM qd
"""

QUERIES["embedding_quantize_error"] = embedding_quantize_error
ORACLES["embedding_quantize_error"] = EMB_QUANT_SQL


# --- Per-label embedding centroids (class pooling) ---------------------------
#
# The class-centroid primitive (nearest-centroid classifiers, dataset
# cartography, per-class drift monitoring): mean embedding per label.
# Row-order-dependent float summation cannot be hash-compared across
# engines, so the mean uses the same int64 quantization as kmeans_clusters
# (sum of quantized coords div count — exact under any shuffle order). The
# centroid is emitted as a '-'-joined string: the driver's cell hash treats
# arrays inconsistently across engines, strings never (the multimodal
# feature_sig precedent).
#
# Scale shape: posexplode + ONE partial-aggregated (label, dim) shuffle
# (labels x 64 cells), then a per-label regroup. No driver collects.


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer mean embedding per label: (label, n_vecs, centroid_sig)."""
    q = _kmeans_quantized(spark, sf_dir).join(
        _emb(spark, sf_dir).select("vec_id", "label"), "vec_id"
    )
    sums = (
        q.select("label", F.posexplode("q").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
    )
    return (
        sums.withColumn("m", F.expr(f"(s div n) - {KMEANS_OFFSET}"))
        .groupBy("label")
        .agg(
            F.first("n").alias("n_vecs"),
            F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"),
        )
        .select(
            "label",
            "n_vecs",
            F.concat_ws(
                "-", F.transform("pm", lambda st: st["m"].cast("string"))
            ).alias("centroid_sig"),
        )
    )


LABEL_CENTROIDS_SQL = f"""
WITH e AS (
  SELECT label,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {KMEANS_SCALE}) AS BIGINT)
                + {KMEANS_OFFSET}) AS q
  FROM embeddings
),
sums AS (
  SELECT label, i AS pos, SUM(q[i]) AS s, COUNT(*) AS n
  FROM e, (SELECT unnest(range(1, {EMBED_DIM} + 1)) AS i)
  GROUP BY label, i
)
SELECT label, CAST(MIN(n) AS BIGINT) AS n_vecs,
       array_to_string(list((s // n) - {KMEANS_OFFSET} ORDER BY pos), '-') AS centroid_sig
FROM sums
GROUP BY label
"""

QUERIES["label_centroids"] = label_centroids
ORACLES["label_centroids"] = LABEL_CENTROIDS_SQL
