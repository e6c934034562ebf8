"""Partitioned parquet sink + partition-pruned reads.

At 100 TB the date-partitioned layout is what turns "scan everything" into
"scan one day". This pins: (a) hive-style partition layout on disk, (b)
PartitionFilters (not data filters) pruning at read time.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mapreduce_simple_go_spark.plans import formatted_plan

from .conftest import SF_DIR


def test_partitioned_write_and_pruned_read(spark, tmp_path):
    """Two layouts: orders by a derived month, read back at its first
    month, and text.partitioned_prune_roundtrip's own: documents by lang,
    read back at lang = 'en'."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    )
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for df, col, value in [(orders, "month", None), (docs, "lang", "en")]:
        out = str(tmp_path / f"by_{col}")
        df.write.partitionBy(col).mode("overwrite").parquet(out)

        dirs = [d for d in os.listdir(out) if d.startswith(f"{col}=")]
        assert len(dirs) > 1, f"expected hive-style {col}= partition directories"

        if value is None:
            value = sorted(d.split("=", 1)[1] for d in dirs)[0]
        q = spark.read.parquet(out).filter(F.col(col) == value)
        plan = formatted_plan(q)
        assert "PartitionFilters" in plan and col in plan.split("PartitionFilters", 1)[1][:200]
        # pruning correctness: row count equals the per-partition count
        assert q.count() == df.filter(F.col(col) == value).count()
