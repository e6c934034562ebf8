"""Measure the SRP-LSH cost/recall frontier to size the band layout.

For each (bands, bits-per-band) config this sweeps, computes on a real
fixture: mean candidates per query (the Spark-side cost driver — exact
scoring + dedup shuffle are linear in it), mean recall@TOP_K against the
exact brute-force top-k, and wall time of the full ann_srp_topk query.
The shipped SRP_BANDS/SRP_BITS are chosen from this table (SCALE.md
"SRP band layout" keeps the results): 4x4 bands collide on 1/16 of a uniform
corpus per band — candidates ~ n/4 per query, which is only a 4x prune
over brute force and therefore still quadratic when the query set scales
with the corpus (vec_id % QUERY_MOD). Wider bands cut candidates
geometrically while recall falls only linearly in band count.

Usage: python scripts/srp_tune.py [sf_dir ...] (default testdata sf0.001/sf0.01/sf0.1)
       python scripts/srp_tune.py --planted   (mid-cosine recall frontier)

--planted (r9): measures planted-neighbor recall at
EXACT cosine tiers 0.75 / 0.85 / 0.95 — the regime real embedding
workloads live in, between the uniform-fixture floor (cos ~0.4) and the
near-dup pin (cos >= 0.93). Each tier plants one exact-cosine neighbor
per query (dup = cos*v_hat + sqrt(1-cos^2)*orthonormal noise) in a seeded
uniform sea, then measures recall + wall time for the shipped 8x8 SRP
layout AND multiprobe-IVF on the same fixture, so the "which index for
which regime" guidance in SCALE.md is measured, not extrapolated.
Analytic SRP expectation at 8 bands x 8 bits: collide-prob per tier =
1-(1-p^8)^8 with p = 1 - acos(cos)/pi -> 0.65 @ 0.75, 0.85 @ 0.85,
0.99 @ 0.95. tests/test_similarity.py pins floors under these.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pyspark

os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.functions import broadcast  # noqa: E402

from mapreduce_simple_go_spark.operators import similarity as S  # noqa: E402
from mapreduce_simple_go_spark.session import get_spark  # noqa: E402

CONFIGS = [(4, 4), (4, 6), (6, 5), (6, 6), (8, 6), (8, 8), (12, 8), (16, 8)]


def _set_config(bands: int, bits: int) -> None:
    S.SRP_BANDS = bands
    S.SRP_BITS = bands * bits
    S._SRP_ROWS_PER_BAND = bits


def _candidates_per_query(spark, sf_dir: str) -> float:
    """Mean deduped candidate count per query under the CURRENT config —
    the same cand subplan ann_srp_topk scores, counted instead."""
    base = S._emb(spark, sf_dir)
    sigs = S._srp_signatures(base).select(
        "vec_id", F.posexplode(F.col("bands")).alias("band_idx", "band_val")
    )
    q_sigs = S._srp_signatures(
        base.filter(F.col("vec_id") % S.QUERY_MOD == 0)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.posexplode(F.col("bands")).alias("q_band_idx", "q_band_val"),
    )
    cand = (
        sigs.join(
            broadcast(q_sigs),
            (F.col("band_idx") == F.col("q_band_idx"))
            & (F.col("band_val") == F.col("q_band_val"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id")
        .distinct()
    )
    # denominator = TOTAL query count, not countDistinct over the candidate
    # set: queries with zero candidates must still dilute the mean, else
    # cand/query is overstated (and prune_vs_brute understated) exactly for
    # the wide-band configs where empty candidate sets are common.
    n_queries = base.filter(F.col("vec_id") % S.QUERY_MOD == 0).count()
    pairs = cand.count()
    return pairs / max(n_queries, 1)


def make_planted_fixture(spark, out_dir: str, cos_t: float,
                         n_noise: int = 400, n_q: int = 40, seed: int = 7):
    """Planted-neighbor embeddings fixture at an EXACT cosine tier.

    For each query vector v, the planted neighbor is
    ``cos_t * v_hat + sqrt(1-cos_t^2) * w`` with w unit-norm and
    orthogonalized against v — so cos(v, dup) == cos_t to float precision
    (the test's additive-noise construction only bounds the cosine).
    Returns {query_id: dup_id}. Query ids follow the registry convention
    (vec_id % QUERY_MOD == 0).
    """
    import numpy as np

    from mapreduce_simple_go_spark.operators.similarity import EMBED_DIM, QUERY_MOD

    rng = np.random.default_rng(seed)
    rows, planted = [], {}
    for i in range(n_noise):
        rows.append((i * QUERY_MOD + 1, rng.standard_normal(EMBED_DIM)))
    for j in range(n_q):
        q_id = (j + 1) * QUERY_MOD
        v = rng.standard_normal(EMBED_DIM)
        v_hat = v / np.linalg.norm(v)
        w = rng.standard_normal(EMBED_DIM)
        w -= w.dot(v_hat) * v_hat
        w /= np.linalg.norm(w)
        dup = cos_t * v_hat + (1.0 - cos_t**2) ** 0.5 * w
        got = float(v_hat.dot(dup / np.linalg.norm(dup)))
        assert abs(got - cos_t) < 1e-5, got
        dup_id = q_id + 3
        rows.append((q_id, v))
        rows.append((dup_id, dup))
        planted[q_id] = dup_id
    sdf = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    sdf.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )
    return planted


def planted_recall(spark, fn, fix_dir: str, planted: dict) -> float:
    got = {}
    for r in fn(spark, fix_dir).collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)
    return sum(1 for q, d in planted.items() if d in got.get(q, set())) / len(planted)


def planted_main() -> int:
    import math
    import tempfile

    from mapreduce_simple_go_spark.operators.similarity import (
        ann_ivf_topk_multiprobe,
        ann_srp_topk,
    )

    spark = get_spark(app_name="srp-planted")
    out = []
    for cos_t in (0.75, 0.85, 0.95):
        fix = tempfile.mkdtemp(prefix=f"planted_{int(cos_t*100)}_")
        planted = make_planted_fixture(spark, fix, cos_t)
        p_bit = 1 - math.acos(cos_t) / math.pi
        analytic = 1 - (1 - p_bit ** (S.SRP_BITS // S.SRP_BANDS)) ** S.SRP_BANDS
        for label, fn in (("srp_8x8", ann_srp_topk),
                          ("ivf_multiprobe", ann_ivf_topk_multiprobe)):
            t0 = time.time()
            rec = planted_recall(spark, fn, fix, planted)
            row = {
                "cos": cos_t,
                "index": label,
                "recall": round(rec, 3),
                "analytic_srp": round(analytic, 3) if label == "srp_8x8" else None,
                "query_s": round(time.time() - t0, 2),
            }
            out.append(row)
            print(json.dumps(row), flush=True)
    print(json.dumps(out, indent=1))
    spark.stop()
    return 0


def main() -> int:
    if "--planted" in sys.argv:
        return planted_main()
    dirs = sys.argv[1:] or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]
    spark = get_spark(app_name="srp-tune")
    orig = (S.SRP_BANDS, S._SRP_ROWS_PER_BAND)
    out = []
    for sf_dir in dirs:
        n = S._emb(spark, sf_dir).count()
        exact = {}
        for r in S.ann_cosine_topk(spark, sf_dir).collect():
            exact.setdefault(r.query_id, set()).add(r.vec_id)
        for bands, bits in CONFIGS:
            _set_config(bands, bits)
            t0 = time.time()
            rows = S.ann_srp_topk(spark, sf_dir).collect()
            dt = round(time.time() - t0, 2)
            got = {}
            for r in rows:
                got.setdefault(r.query_id, set()).add(r.vec_id)
            recalls = [
                len(got.get(q, set()) & hits) / len(hits) for q, hits in exact.items()
            ]
            rec = round(sum(recalls) / len(recalls), 3) if recalls else None
            cand = round(_candidates_per_query(spark, sf_dir), 1)
            out.append(
                {
                    "sf_dir": sf_dir,
                    "n": n,
                    "bands": bands,
                    "bits": bits,
                    "cand_per_query": cand,
                    "prune_vs_brute": round(n / cand, 1) if cand else None,
                    "recall_at_k": rec,
                    "query_s": dt,
                }
            )
            print(json.dumps(out[-1]), flush=True)
    _set_config(*orig)
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
