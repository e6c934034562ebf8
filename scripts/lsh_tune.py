"""Measure the MinHash-LSH recall frontier on planted near-dup tiers.

SRP/IVF recall is measured with pinned floors
(scripts/srp_tune.py --planted), but the dedup family pinned only bucket
occupancy and pair counts — the number a user of near-dedup actually
needs is RECALL at a given true Jaccard, for the shipped band layout AND
for the salted variant (whose subset-of-pairs semantics make its recall
the one that matters in production).

Construction: each planted pair shares a common word prefix (length L)
and carries a distinct suffix (length M) of globally unique words, so
with 3-word shingles the shared set is exactly L-2 and each doc holds
L+M-2 shingles -> true Jaccard = (L-2) / (L+2M-2) EXACTLY, by
construction (every word is unique to its doc group, so no accidental
shingle collisions; words are letters-only because the tokenizer splits
on [^\\p{L}]+):

    J=0.9: L=20, M=1   J=0.8: L=18, M=2   J=0.7: L=16, M=3

The pairs sit in a sea of all-unique-word documents. Reported per tier:

- collision recall: planted pair shares >= 1 band signature (the LSH
  candidate step; analytic expectation 1-(1-J^4)^4 for 4 bands x 4 rows
  -> 0.67 @ 0.7, 0.88 @ 0.8, 0.99 @ 0.9),
- operator recall: pair present in the OPERATOR output (collision AND
  est_jaccard >= 0.5 — the 16-perm estimate adds binomial noise at the
  low tier: P(est >= 0.5 | J=0.7) ~ 0.93),
- the same two for the salted form (equal here by construction: a
  planted bucket holds exactly the pair, cap=2 keeps it in one chunk).

tests/test_lsh_salted.py pins conservative floors under these numbers;
SCALE.md's "MinHash-LSH planted recall frontier" records the measured
table.

Usage: python scripts/lsh_tune.py [n_sea] [pairs_per_tier]
       (defaults 5000 / 100; writes lsh_recall_out.json + markdown table)
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

# (true_jaccard, prefix_len, suffix_len)
TIERS = [(0.9, 20, 1), (0.8, 18, 2), (0.7, 16, 3)]


def _b26(n: int) -> str:
    """Deterministic letters-only word stem (the tokenizer drops digits)."""
    s = ""
    n += 1
    while n:
        n, r = divmod(n - 1, 26)
        s = chr(ord("a") + r) + s
    return s


def planted_jaccard_docs(n_sea: int, pairs_per_tier: int):
    """(rows, planted) for a planted-Jaccard corpus.

    rows: (doc_id, text) tuples — n_sea unique-word sea docs (doc_id
    0..n_sea-1) then the planted pairs (consecutive ids). planted:
    {true_jaccard: [(doc_a, doc_b), ...]}.
    """
    rows = []
    for d in range(n_sea):
        rows.append((d, " ".join(f"sea{_b26(d)}{_b26(j)}" for j in range(20))))
    planted: dict[float, list[tuple[int, int]]] = {}
    nxt = n_sea
    for j, L, M in TIERS:
        tag = f"t{_b26(int(j * 10))}"
        for p in range(pairs_per_tier):
            prefix = [f"{tag}p{_b26(p)}{_b26(i)}" for i in range(L)]
            sa = [f"{tag}a{_b26(p)}{_b26(i)}" for i in range(M)]
            sb = [f"{tag}b{_b26(p)}{_b26(i)}" for i in range(M)]
            rows.append((nxt, " ".join(prefix + sa)))
            rows.append((nxt + 1, " ".join(prefix + sb)))
            planted.setdefault(j, []).append((nxt, nxt + 1))
            nxt += 2
    return rows, planted


def measure(spark, rows, planted) -> dict:
    """Recall per tier for the shipped unsalted and salted operators."""
    from pyspark.sql import functions as F

    from mapreduce_simple_go_spark.operators.dedup import (
        _lsh_bands,
        _lsh_pair_scores,
        lsh_salted_keyed,
        minhash_wide,
    )

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bands = _lsh_bands(minhash_wide(docs)).localCheckpoint(eager=True)

    def pair_sets(index, join_cols):
        t0 = time.monotonic()
        final = {
            (r.doc_a, r.doc_b)
            for r in _lsh_pair_scores(index, join_cols)
            .select("doc_a", "doc_b")
            .collect()
        }
        wall = time.monotonic() - t0
        # collision-only set (pre est_jaccard filter) for the same keys
        a, b = index.alias("a"), index.alias("b")
        import functools
        import operator as op

        cond = functools.reduce(
            op.and_, [F.col(f"a.{c}") == F.col(f"b.{c}") for c in join_cols]
        )
        coll = {
            (r.doc_a, r.doc_b)
            for r in a.join(b, cond)
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
            .collect()
        }
        return final, coll, wall

    uf, uc, uw = pair_sets(bands, ["band", "sig"])
    sf_, sc, sw = pair_sets(lsh_salted_keyed(bands), ["band", "sig", "chunk"])

    out = {"walls": {"unsalted_s": round(uw, 2), "salted_s": round(sw, 2)}}
    for j, pairs in sorted(planted.items(), reverse=True):
        n = len(pairs)
        out[str(j)] = {
            "n_pairs": n,
            "unsalted_collision": round(sum(p in uc for p in pairs) / n, 3),
            "unsalted_recall": round(sum(p in uf for p in pairs) / n, 3),
            "salted_collision": round(sum(p in sc for p in pairs) / n, 3),
            "salted_recall": round(sum(p in sf_ for p in pairs) / n, 3),
        }
    return out


def main() -> int:
    from mapreduce_simple_go_spark.session import get_spark

    n_sea = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
    per_tier = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    rows, planted = planted_jaccard_docs(n_sea, per_tier)
    spark = get_spark(app_name="lsh-tune", shuffle_partitions=16)
    res = measure(spark, rows, planted)
    res["n_sea"] = n_sea
    res["pairs_per_tier"] = per_tier
    with open(os.path.join(REPO, "lsh_recall_out.json"), "w") as f:
        json.dump(res, f, indent=1)
        f.write("\n")
    print("| true J | collision | operator recall | salted collision | salted recall |")
    print("|---|---|---|---|---|")
    for j, _, _ in TIERS:
        r = res[str(j)]
        print(
            f"| {j} | {r['unsalted_collision']} | {r['unsalted_recall']} "
            f"| {r['salted_collision']} | {r['salted_recall']} |"
        )
    print(f"walls: {res['walls']}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
