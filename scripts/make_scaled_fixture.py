"""Build an upsampled fixture for scaling measurements.

Replicates the sf0.1 tables FACTOR times with replica-disjoint content so
operator cost scales with data volume while *structure density stays
constant* — the property a fair scaling measurement needs:

- documents: every word in replica r>0 gets a 2-letter replica tag
  prepended (still pure letters, so the `[^\\p{L}]+` tokenizer sees normal
  words). Shingle/vocab spaces are disjoint per replica, so near-dup pair
  density per document is unchanged; naive row duplication would instead
  make every doc a member of a FACTOR-sized exact-dup clique — a 45x pair
  blowup the operator would be unfairly blamed for. doc_id shifts by
  r * (max_id + 1); n_chars is recomputed from the mutated text.
- embeddings: vectors are rotated (np.roll semantics via slice+concat) by
  r positions — intra-replica geometry (and thus near-neighbor structure)
  is EXACTLY preserved, cross-replica cosine relationships are scrambled.
  vec_id shifts; label kept (cluster structure repeats per replica).
- events: event_id/user_id shift by r * (max + 1); timestamps unchanged,
  so per-user session shapes and the hourly/daily histogram scale linearly
  in users, matching how a 10x-bigger product deployment looks.

Usage: python scripts/make_scaled_fixture.py [SRC] [OUT] [FACTOR]
                                              [--tables a,b,...]
Defaults: /root/testdata/sf0.1  <repo>/.localdata/sf1  10
Unscaled tables (region ... lineitem) are copied as-is so the directory is
a drop-in sf_dir for every registry query.

--tables (r11): scale only the named tables (any of documents, embeddings,
events, orders — lineitem rides with orders) and skip the rest entirely.
For targeted scale points (an sf100 spot-check of the ANN and streaming
families needs only embeddings + events) this avoids generating a 12 GB
lineitem nobody reads.
The output dir is then NOT a drop-in sf_dir for every query — only for
queries over the named tables.

Factors beyond 676 (26^2 replica tags) compose: scale sf10 by 10 to get
sf100 — the per-replica doc tags prepend, the embedding rotations add,
and the id shifts nest, so replica-disjointness is preserved.
"""

from __future__ import annotations

import os
import shutil
import sys

import pyspark

os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _tag(r: int) -> str:
    """Two-letter replica tag ("aa", "ab", ...) — pure letters, so the
    `[^\\p{L}]+` tokenizer still sees normal words; supports up to 26^2
    replicas."""
    return _LETTERS[r // 26] + _LETTERS[r % 26]


_ALL_TABLES = ("documents", "embeddings", "events", "orders")


def main() -> int:
    argv = list(sys.argv[1:])
    tables = _ALL_TABLES
    if "--tables" in argv:
        i = argv.index("--tables")
        tables = tuple(argv[i + 1].split(","))
        del argv[i : i + 2]
        unknown = set(tables) - set(_ALL_TABLES)
        assert not unknown, f"unknown tables: {unknown}"
    src = argv[0] if len(argv) > 0 else "/root/testdata/sf0.1"
    out = argv[1] if len(argv) > 1 else os.path.join(REPO, ".localdata", "sf1")
    factor = int(argv[2]) if len(argv) > 2 else 10
    assert factor <= len(_LETTERS) ** 2

    from pyspark.sql import functions as F

    from mapreduce_simple_go_spark.session import get_spark

    spark = get_spark(app_name="make-scaled-fixture")
    os.makedirs(out, exist_ok=True)

    if "documents" in tables:
        docs = spark.read.parquet(os.path.join(src, "documents.parquet"))
        d_shift = docs.agg(F.max("doc_id")).first()[0] + 1
        doc_parts = []
        for r in range(factor):
            text = (
                F.col("text")
                if r == 0
                else F.regexp_replace("text", r"(\p{L}+)", _tag(r) + "$1")
            )
            doc_parts.append(
                docs.select(
                    (F.col("doc_id") + F.lit(r * d_shift)).alias("doc_id"),
                    text.alias("text"),
                    "lang",
                    "source",
                ).withColumn("n_chars", F.length("text").cast("long"))
            )
        scaled_docs = doc_parts[0]
        for p in doc_parts[1:]:
            scaled_docs = scaled_docs.unionByName(p)
        scaled_docs.repartition(8).write.mode("overwrite").parquet(
            os.path.join(out, "documents.parquet")
        )
        print(f"documents: {scaled_docs.count()} rows", flush=True)

    if "embeddings" in tables:
        emb = spark.read.parquet(os.path.join(src, "embeddings.parquet"))
        e_shift = emb.agg(F.max("vec_id")).first()[0] + 1
        emb_parts = []
        for r in range(factor):
            # rotate by r mod dim (r can exceed the vector dim at high
            # factors); rot == 0 replicas beyond the first still get fresh
            # vec_ids, and intra-replica geometry stays exactly preserved
            # either way
            rot_expr = (
                f"concat(slice(embedding, ({r} % size(embedding)) + 1, "
                f"size(embedding) - ({r} % size(embedding))), "
                f"slice(embedding, 1, {r} % size(embedding)))"
            )
            vec = F.col("embedding") if r == 0 else F.expr(rot_expr)
            emb_parts.append(
                emb.select(
                    (F.col("vec_id") + F.lit(r * e_shift)).alias("vec_id"),
                    vec.alias("embedding"),
                    "label",
                )
            )
        scaled_emb = emb_parts[0]
        for p in emb_parts[1:]:
            scaled_emb = scaled_emb.unionByName(p)
        scaled_emb.repartition(8).write.mode("overwrite").parquet(
            os.path.join(out, "embeddings.parquet")
        )
        print(f"embeddings: {scaled_emb.count()} rows", flush=True)

    if "events" in tables:
        from mapreduce_simple_go_spark.sources import load_events

        ev = load_events(spark, src)
        ev_shift = ev.agg(F.max("event_id")).first()[0] + 1
        u_shift = ev.agg(F.max("user_id")).first()[0] + 1
        ev_parts = [
            ev.select(
                (F.col("event_id") + F.lit(r * ev_shift)).alias("event_id"),
                "ts",
                (F.col("user_id") + F.lit(r * u_shift)).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
            for r in range(factor)
        ]
        scaled_ev = ev_parts[0]
        for p in ev_parts[1:]:
            scaled_ev = scaled_ev.unionByName(p)
        scaled_ev.repartition(8).write.mode("overwrite").parquet(
            os.path.join(out, "events.parquet")
        )
        print(f"events: {scaled_ev.count()} rows", flush=True)

    # orders + lineitem scale by orderkey-shifted replicas: custkey / part /
    # supplier FKs are left untouched (those dims stay unscaled, exactly how
    # a real deployment's facts outgrow its dimensions), so every join still
    # resolves and per-replica value/date density is unchanged.
    if "orders" in tables:
        orders = spark.read.parquet(os.path.join(src, "orders.parquet"))
        o_shift = orders.agg(F.max("o_orderkey")).first()[0] + 1
        o_parts = [
            orders.withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(r * o_shift)
            )
            for r in range(factor)
        ]
        scaled_o = o_parts[0]
        for p in o_parts[1:]:
            scaled_o = scaled_o.unionByName(p)
        scaled_o.repartition(8).write.mode("overwrite").parquet(
            os.path.join(out, "orders.parquet")
        )
        print(f"orders: {scaled_o.count()} rows", flush=True)

        li = spark.read.parquet(os.path.join(src, "lineitem.parquet"))
        li_parts = [
            li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(r * o_shift))
            for r in range(factor)
        ]
        scaled_li = li_parts[0]
        for p in li_parts[1:]:
            scaled_li = scaled_li.unionByName(p)
        scaled_li.repartition(16).write.mode("overwrite").parquet(
            os.path.join(out, "lineitem.parquet")
        )
        print(f"lineitem: {scaled_li.count()} rows", flush=True)

    for t in ("region", "nation", "customer", "supplier", "part"):
        sp = os.path.join(src, f"{t}.parquet")
        dp = os.path.join(out, f"{t}.parquet")
        if os.path.isfile(sp):
            shutil.copy(sp, dp)
        elif os.path.isdir(sp):
            shutil.copytree(sp, dp, dirs_exist_ok=True)
    print(f"fixture ready at {out} (factor {factor})", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
