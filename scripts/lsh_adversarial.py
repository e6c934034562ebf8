"""Degenerate-corpus stress for occupancy-capped (salted) MinHash-LSH.

Builds an adversarial 100x-scale corpus — the .localdata/sf10 documents
table (~500 K docs) plus N_DUPES identical boilerplate documents, i.e.
one band bucket of ~10^4 members per band — then records:

- lsh_band_occupancy BEFORE salting: the exact pair count the UNSALTED
  candidate join would emit (the probe exists precisely so this number
  is seen without paying the join);
- the SALTED candidate join's actual emitted pair count + wall time,
  plus the post-salt join-group occupancy (must be <= cap+1);
- the O(k*cap) bound check: salted pairs per band vs C(k,2).

SCALE.md's "Salted LSH under a degenerate corpus" table records the
numbers. Reference analog for the
even-spread reasoning: /root/reference/src/shardctrler/common.go:6-16.

Usage: python scripts/lsh_adversarial.py [base_fixture_dir]
       (default .localdata/sf10; writes .localdata/lsh_adversarial/)
"""

from __future__ import annotations

import os
import sys
import time

import pyspark

os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from mapreduce_simple_go_spark.operators.dedup import (  # noqa: E402
    LSH_BANDS,
    LSH_BUCKET_CAP,
    _lsh_bands,
    lsh_salted_keyed,
    minhash_wide,
)
from mapreduce_simple_go_spark.session import get_spark  # noqa: E402

N_DUPES = 10_000
BOILERPLATE = (
    "this content is provided as is without warranty of any kind either "
    "express or implied including but not limited to the implied warranties "
    "of merchantability and fitness for a particular purpose"
)


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".localdata", "sf10")
    out_dir = os.path.join(REPO, ".localdata", "lsh_adversarial")
    doc_path = os.path.join(out_dir, "documents.parquet")
    spark = get_spark(shuffle_partitions=32)

    if not os.path.isdir(doc_path):
        docs = spark.read.parquet(os.path.join(base, "documents.parquet"))
        cols = docs.columns
        max_id = docs.agg(F.max("doc_id")).first()[0]
        dupes = (
            spark.range(N_DUPES)
            .select((F.col("id") + max_id + 1).alias("doc_id"))
            .withColumn("text", F.lit(BOILERPLATE))
        )
        # carry any extra documents columns as nulls of the right type
        for c in cols:
            if c not in dupes.columns:
                dupes = dupes.withColumn(c, F.lit(None).cast(docs.schema[c].dataType))
        dupes.select(cols).union(docs.select(cols)).write.mode("overwrite").parquet(
            doc_path
        )
        print(f"wrote adversarial corpus -> {doc_path}")

    docs = spark.read.parquet(doc_path)
    n_docs = docs.count()
    print(f"corpus: {n_docs} docs ({N_DUPES} identical boilerplate)")

    bands = _lsh_bands(minhash_wide(docs)).localCheckpoint(eager=True)

    # BEFORE: unsalted occupancy -> the pair bill the plain join would pay
    t0 = time.monotonic()
    occ = (
        bands.groupBy("band", "sig")
        .agg(F.count("*").alias("k"))
        .groupBy("band")
        .agg(
            F.max("k").alias("max_bucket"),
            F.sum(F.expr("k * (k - 1) div 2")).alias("unsalted_pairs"),
        )
        .orderBy("band")
        .collect()
    )
    t_occ = time.monotonic() - t0
    worst = max(r.unsalted_pairs for r in occ)
    total_unsalted = sum(r.unsalted_pairs for r in occ)
    print(f"unsalted occupancy ({t_occ:.1f}s): max_bucket={max(r.max_bucket for r in occ)}, "
          f"worst band pairs={worst}, total across {LSH_BANDS} bands={total_unsalted}")

    # AFTER: salted join-group occupancy + actual emitted candidate pairs
    keyed = lsh_salted_keyed(bands).localCheckpoint(eager=True)
    grp = keyed.groupBy("band", "sig", "chunk").agg(F.count("*").alias("c"))
    stats = grp.agg(
        F.max("c").alias("max_group"),
        F.sum(F.expr("c * (c - 1) div 2")).alias("salted_pairs"),
    ).first()
    a = keyed.select("band", "sig", "chunk", F.col("doc_id").alias("doc_a"))
    b = keyed.select("band", "sig", "chunk", F.col("doc_id").alias("doc_b"))
    t1 = time.monotonic()
    emitted = (
        a.join(b, ["band", "sig", "chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .count()
    )
    t_join = time.monotonic() - t1
    distinct_pairs = (
        a.join(b, ["band", "sig", "chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .count()
    )
    bound = N_DUPES * (LSH_BUCKET_CAP + 1) * LSH_BANDS
    print(f"salted: max join-group={stats.max_group} (cap+1={LSH_BUCKET_CAP + 1}), "
          f"emitted pairs={emitted} ({t_join:.1f}s), distinct pairs={distinct_pairs}")
    print(f"O(k*cap) bound check: emitted {emitted} <= k*(cap+1)*bands + base "
          f"(~{bound} + base-corpus pairs); unsalted would have paid {total_unsalted}")
    print(f"reduction: {total_unsalted / max(emitted, 1):.0f}x fewer pairs")
    assert stats.max_group <= LSH_BUCKET_CAP + 1
    spark.stop()


if __name__ == "__main__":
    main()
