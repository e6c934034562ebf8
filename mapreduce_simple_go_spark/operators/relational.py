"""Relational query suite over the TPC-H-ish fixture tables.

The reference has no joins and no typed aggregation at all (SURVEY.md §2.4 —
its only aggregation surface is whole-group UDAFs). This module is the
DataFrame surface a user of the reference would gain by switching: joins of
every flavor, partial-aggregated group-bys, window functions, date functions.

Scale notes baked into each plan:
- Dimension tables (region/nation/customer/supplier/part) are broadcast —
  at 100 TB the fact tables shuffle on join keys only when both sides are
  large (orders ⋈ lineitem), and AQE handles skew there.
- All money arithmetic is DECIMAL(18,2): decimal sums are exact and
  associative, so results are partition-order independent (and match the
  DuckDB oracle bit-for-bit).
- Every aggregate column is aliased identically in the Spark plan and the
  oracle SQL — the driver hashes columns by sorted name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions import money
from ..sources import table as _t


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary over lineitem.

    Single scan, partial+final aggregation, no shuffle besides the one
    groupBy on a low-cardinality key. Filter + 7-column projection push
    down to the parquet reader.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = money(F.col("l_extendedprice")) * (
        F.lit(1).cast("decimal(18,2)") - money(F.col("l_discount"))
    )
    charge = disc_price * (F.lit(1).cast("decimal(18,2)") + money(F.col("l_tax")))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(money(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(money(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       -- charge must STAY decimal in DuckDB: a three-factor (18,2) product
       -- needs precision > 38, which DuckDB silently degrades to DOUBLE
       -- (1-ulp divergence from Spark's exact DECIMAL(38,6) at sf >= 1).
       -- Narrow casts keep every step <= 38: (12,2)x(4,2)->(18,4), x(4,2)->(23,6).
       -- The VARCHAR round-trip is deliberate: DuckDB's direct
       -- DECIMAL->DOUBLE cast double-rounds once the scale-6 scaled
       -- integer exceeds 2^53 (int128 -> double, then /1e6), while strtod
       -- — like Spark's and Python's casts — rounds the exact value once.
       CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4)) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: top 10 open orders by revenue for one market segment.

    customer is filtered then broadcast; orders ⋈ lineitem is the only
    shuffle join. Deterministic top-k: tie-broken on o_orderkey.
    """
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "F")
    li = _t(spark, sf_dir, "lineitem")
    revenue = money(F.col("l_extendedprice")) * (
        F.lit(1).cast("decimal(18,2)") - money(F.col("l_discount"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND o_orderstatus <> 'F'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# Bucket-ingested q3: the write-side strategy that removes the fact-fact
# shuffle from EVERY subsequent orderkey join. Bucket count is small so the
# driver fixtures produce non-trivial buckets; at 100 TB you would size it
# to ~(table size / 128 MB) once at ingest.
Q3_INGEST_BUCKETS = 8


def _q3_over_tables(spark: SparkSession, lt: str, ot: str, cust: DataFrame) -> DataFrame:
    """q3's join/agg over catalog tables ``lt`` (lineitem) and ``ot``
    (orders) — shared by the registry entry and the plan-pin test."""
    orders = spark.table(ot).filter(F.col("o_orderstatus") != "F")
    li = spark.table(lt)
    revenue = money(F.col("l_extendedprice")) * (
        F.lit(1).cast("decimal(18,2)") - money(F.col("l_discount"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q3_bucketed_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q3 over bucket-INGESTED fact tables, end-to-end under the oracle
    gate: orders and lineitem are first written ``bucketBy(orderkey)``
    (the one-time ingest shuffle), then the query's fact-fact join reads
    the bucketed tables and plans WITHOUT an Exchange on either fact side
    — each bucket pair joins locally, pre-sorted on the join key.

    This is the registry twin of tests/test_bucketing.py's plan pin: the
    same write-bucketed-then-join path, but producing q3's actual result
    under the driver's hash gate (identical to q3_shipping_priority's
    oracle — bucketing must never change results). The result is
    localCheckpointed so the scratch tables can be dropped immediately;
    uuid-suffixed names keep reruns and concurrent callers from colliding.

    Reference analog: the map side already writes intermediate KV into
    ihash(key) %% NReduce buckets so each reducer reads exactly its bucket
    (/root/reference/src/mr/worker.go:23-26,:93) — bucketed ingest is
    that same shuffle-once-at-write idea promoted to a durable table
    layout every later join reuses.
    """
    import uuid

    # Startup sweep: a driver crash between saveAsTable and the finally-
    # drop leaves orphaned uuid-suffixed scratch tables behind; drop any
    # leftovers from previous invocations before creating this run's pair
    # (the names are namespaced so nothing else matches). SHOW TABLES, not
    # catalog.listTables(): PySpark reads that listing through
    # toLocalIterator, which runs a Spark job per partition, and the listing
    # has up to one partition per catalog entry, so the sweep's job count
    # followed the session's temp views.
    for tbl in spark.sql("SHOW TABLES LIKE 'orders_bkt_*|lineitem_bkt_*'").collect():
        spark.sql(f"DROP TABLE IF EXISTS {tbl.tableName}")

    suffix = uuid.uuid4().hex[:8]
    ot, lt = f"orders_bkt_{suffix}", f"lineitem_bkt_{suffix}"
    try:
        # Ingest only the columns the serving query reads (project before
        # the exchange, r13): the
        # bucketed write IS this operator's one exchange, and it was
        # shuffling + writing all 9 orders / 16 lineitem columns to serve
        # a query that reads 5 and 3. Projection cuts the ingest shuffle
        # and parquet write to the serving width; the q3 result is
        # column-pruned either way, so the hash is unchanged.
        #
        # The two ingests are INDEPENDENT jobs — submit them concurrently
        # (overlap independent jobs) so the lineitem write's
        # tasks back-fill the cores the orders write's tail leaves idle;
        # Spark's scheduler runs concurrent actions FIFO, which is exactly
        # the back-fill behavior wanted. Same at scale: the ingest wall
        # clock becomes max(two writes), not their sum. Each pool thread
        # inherits the caller's job group, tags and scheduler pool.
        def _ingest_orders():
            (
                _t(spark, sf_dir, "orders")
                .select(
                    "o_orderkey", "o_custkey", "o_orderstatus",
                    "o_orderdate", "o_orderpriority",
                )
                .write.bucketBy(Q3_INGEST_BUCKETS, "o_orderkey")
                .sortBy("o_orderkey")
                .mode("overwrite")
                .saveAsTable(ot)
            )

        def _ingest_lineitem():
            (
                _t(spark, sf_dir, "lineitem")
                .select("l_orderkey", "l_extendedprice", "l_discount")
                .write.bucketBy(Q3_INGEST_BUCKETS, "l_orderkey")
                .sortBy("l_orderkey")
                .mode("overwrite")
                .saveAsTable(lt)
            )

        from concurrent.futures import ThreadPoolExecutor

        from pyspark.util import inheritable_thread_target

        inherit = inheritable_thread_target(spark)
        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [pool.submit(inherit(f)) for f in (_ingest_orders, _ingest_lineitem)]
            for f in futs:
                f.result()
        cust = _t(spark, sf_dir, "customer").filter(
            F.col("c_mktsegment") == "BUILDING"
        )
        return _q3_over_tables(spark, lt, ot, cust).localCheckpoint(eager=True)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ot}")
        spark.sql(f"DROP TABLE IF EXISTS {lt}")


def q5_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: revenue per nation where customer and supplier share it.

    region→nation→{customer,supplier} are all broadcast; the two fact-side
    joins shuffle on orderkey. The co-nation predicate is a join condition,
    not a post-filter, so Catalyst applies it during the supplier join.
    """
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    revenue = money(F.col("l_extendedprice")) * (
        F.lit(1).cast("decimal(18,2)") - money(F.col("l_discount"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            broadcast(sup),
            (li.l_suppkey == sup.s_suppkey) & (cust.c_nationkey == sup.s_nationkey),
        )
        .join(broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


Q5_SQL = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style: order-priority counts for orders with any late line.

    LEFT SEMI join — the declarative form of EXISTS; Spark never
    materializes the probe side's payload columns.
    """
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    # "late" line: shipped after 1995-06-30
    late = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-06-30").cast("timestamp")
    )
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > TIMESTAMP '1995-06-30')
GROUP BY o_orderpriority
"""


def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function coverage: top-3 customers by account balance per nation.

    row_number over (nation, balance desc, custkey) — the tie-break key makes
    the result deterministic under any partitioning.
    """
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        cust.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .join(broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .select(
            "n_name",
            "c_custkey",
            "c_name",
            F.col("c_acctbal").alias("acctbal"),
            "rank",
        )
    )


TOP_CUSTOMERS_SQL = """
SELECT n_name, c_custkey, c_name, c_acctbal AS acctbal, rank
FROM (
  SELECT c_nationkey, c_custkey, c_name, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
  FROM customer
)
JOIN nation ON c_nationkey = n_nationkey
WHERE rank <= 3
"""


def revenue_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function coverage: monthly order count + revenue."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(money(F.col("o_totalprice"))).cast("double").alias("revenue"),
        )
    )


REVENUE_BY_MONTH_SQL = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
GROUP BY 1
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q3_bucketed_ingest": q3_bucketed_ingest,
    "q5_supplier_volume": q5_supplier_volume,
    "q4_order_priority": q4_order_priority,
    "top_customers_per_nation": top_customers_per_nation,
    "revenue_by_month": revenue_by_month,
}

ORACLES = {
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q3_bucketed_ingest": Q3_SQL,
    "q5_supplier_volume": Q5_SQL,
    "q4_order_priority": Q4_SQL,
    "top_customers_per_nation": TOP_CUSTOMERS_SQL,
    "revenue_by_month": REVENUE_BY_MONTH_SQL,
}


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style: pure scan-filter-sum, no join, no group.

    The canonical pushdown probe: all three predicates reach the parquet
    reader as PushedFilters; the aggregate is a single partial+final sum.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(money(F.col("l_extendedprice")) * money(F.col("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


Q6_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def rollup_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (subtotals + grand total) — free in Spark, absent
    in the reference (no grouping sets of any kind, SURVEY.md §2.4)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(money(F.col("o_totalprice"))).cast("double").alias("revenue"),
        )
    )


ROLLUP_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT coverage: high-balance customers split by whether
    they ever ordered (buyers = semi-join universe).

    Set ops compile to aggregate/join shapes in Spark; both branches share
    the scan of customer (Catalyst reuses the exchange).
    """
    cust = _t(spark, sf_dir, "customer")
    buyers = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    high = cust.filter(F.col("c_acctbal") > 7500).select("c_custkey")
    both = high.intersect(buyers).withColumn("tag", F.lit("high_bal_buyer"))
    never = high.exceptAll(buyers.distinct()).withColumn(
        "tag", F.lit("high_bal_never_ordered")
    )
    return both.unionByName(never)


SET_OPS_SQL = """
WITH high AS (SELECT c_custkey FROM customer WHERE c_acctbal > 7500),
buyers AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders)
SELECT c_custkey, 'high_bal_buyer' AS tag FROM (SELECT * FROM high INTERSECT SELECT * FROM buyers)
UNION ALL
SELECT c_custkey, 'high_bal_never_ordered' AS tag FROM (SELECT * FROM high EXCEPT SELECT * FROM buyers)
"""


def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (point-in-time lookup), expressed with window functions.

    For every event: the user's most recent 'purchase' value at or before
    the event. Spark has no native ASOF JOIN; the scalable formulation is a
    running last_value(ignoreNulls) over the per-user timeline — one shuffle
    on user_id, no range join, state bounded by one row per user.
    """
    from ..sources import load_events

    ev = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    last_purchase_val = F.last(
        F.when(F.col("event_type") == "purchase", F.col("value")), ignorenulls=True
    ).over(w)
    last_purchase_ts = F.last(
        F.when(F.col("event_type") == "purchase", F.col("ts")), ignorenulls=True
    ).over(w)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        last_purchase_val.alias("last_purchase_value"),
        last_purchase_ts.alias("last_purchase_ts"),
    )


ASOF_SQL = """
SELECT event_id, user_id, ts,
       last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
         OVER w AS last_purchase_value,
       last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
         OVER w AS last_purchase_ts
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
"""


def distinct_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) per group — expands to a two-phase aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count("*").alias("n_lines"),
    )


DISTINCT_PARTS_SQL = """
SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n_lines
FROM lineitem GROUP BY l_suppkey
"""


QUERIES.update(
    {
        "q6_forecast_revenue": q6_forecast_revenue,
        "rollup_order_revenue": rollup_order_revenue,
        "set_ops_customers": set_ops_customers,
        "asof_last_purchase": asof_last_purchase,
        "distinct_parts_per_supplier": distinct_parts_per_supplier,
    }
)
ORACLES.update(
    {
        "q6_forecast_revenue": Q6_SQL,
        "rollup_order_revenue": ROLLUP_SQL,
        "set_ops_customers": SET_OPS_SQL,
        "asof_last_purchase": ASOF_SQL,
        "distinct_parts_per_supplier": DISTINCT_PARTS_SQL,
    }
)


def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation — all grouping-set combinations of two dimensions."""
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders")
    )


CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def median_order_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median per group (percentile, not approx)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.percentile("o_totalprice", 0.5).alias("median_price"),
            F.count("*").alias("n_orders"),
        )
    )


MEDIAN_SQL = """
SELECT c_mktsegment,
       quantile_cont(o_totalprice, 0.5) AS median_price,
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""

QUERIES["cube_order_stats"] = cube_order_stats
QUERIES["median_order_by_segment"] = median_order_by_segment
ORACLES["cube_order_stats"] = CUBE_SQL
ORACLES["median_order_by_segment"] = MEDIAN_SQL


def customers_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers with no orders at all."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


NEVER_ORDERED_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def parts_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery shape: parts priced above their brand's
    average, decorrelated as aggregate + broadcast join (what Catalyst does
    to the subquery form anyway — written explicitly, the plan is the
    point: one scan for the averages, one for the probe)."""
    part = _t(spark, sf_dir, "part")
    avgs = part.groupBy(F.col("p_brand").alias("b")).agg(
        (
            F.sum(money(F.col("p_retailprice"))).cast("double")
            / F.count("*").cast("double")
        ).alias("brand_avg")
    )
    return (
        part.join(broadcast(avgs), part.p_brand == avgs.b)
        .filter(F.col("p_retailprice") > F.col("brand_avg"))
        .select("p_partkey", "p_brand", "p_retailprice", "brand_avg")
    )


PARTS_ABOVE_AVG_SQL = """
WITH avgs AS (
  SELECT p_brand AS b,
         CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS brand_avg
  FROM part GROUP BY p_brand
)
SELECT p_partkey, p_brand, p_retailprice, brand_avg
FROM part JOIN avgs ON p_brand = b
WHERE p_retailprice > brand_avg
"""

QUERIES["customers_never_ordered"] = customers_never_ordered
QUERIES["parts_above_brand_avg"] = parts_above_brand_avg
ORACLES["customers_never_ordered"] = NEVER_ORDERED_SQL
ORACLES["parts_above_brand_avg"] = PARTS_ABOVE_AVG_SQL


def customer_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE coverage: balance quartile per customer within their nation."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return cust.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
    )


QUARTILES_SQL = """
SELECT c_custkey, c_nationkey, c_acctbal,
       NTILE(4) OVER (PARTITION BY c_nationkey
                      ORDER BY c_acctbal DESC, c_custkey ASC) AS quartile
FROM customer
"""


def event_value_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG coverage: per-user value change between consecutive events."""
    from ..sources import load_events

    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.round(F.col("value") - prev, 9).alias("delta"),
    )


EVENT_DELTA_SQL = """
SELECT event_id, user_id, value,
       round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 9) AS delta
FROM events
"""

QUERIES["customer_balance_quartiles"] = customer_balance_quartiles
QUERIES["event_value_delta"] = event_value_delta
ORACLES["customer_balance_quartiles"] = QUARTILES_SQL
ORACLES["event_value_delta"] = EVENT_DELTA_SQL


def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (1000-wide buckets)."""
    orders = _t(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 1000).cast("long")
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n_orders"))
        .withColumn("lo", (F.col("bucket") * 1000).cast("double"))
    )


HISTOGRAM_SQL = """
SELECT bucket, COUNT(*) AS n_orders, CAST(bucket * 1000 AS DOUBLE) AS lo
FROM (SELECT CAST(floor(o_totalprice / 1000) AS BIGINT) AS bucket FROM orders)
GROUP BY bucket
"""


def rolling_7day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: 7-day trailing revenue per order date.

    Daily totals first (small), then a range frame over day numbers — the
    frame is bounded by value (7 days), not row count, so gaps in the date
    axis are handled correctly.
    """
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(money(F.col("o_totalprice"))).cast("double").alias("day_revenue"))
        .withColumn("day_no", F.datediff(F.col("day"), F.lit("1990-01-01").cast("date")))
    )
    w = Window.orderBy("day_no").rangeBetween(-6, 0)
    # day as yyyy-MM-dd string: Spark DateType and DuckDB DATE stringify
    # differently through pandas (date vs Timestamp)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "day_revenue",
        F.round(F.sum("day_revenue").over(w), 2).alias("trailing_7d"),
    )


ROLLING_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS day_revenue,
         datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS day_no
  FROM orders GROUP BY 1
)
SELECT strftime(day, '%Y-%m-%d') AS day, day_revenue,
       round(SUM(day_revenue) OVER (ORDER BY day_no RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS trailing_7d
FROM daily
"""

QUERIES["order_price_histogram"] = order_price_histogram
QUERIES["rolling_7day_revenue"] = rolling_7day_revenue
ORACLES["order_price_histogram"] = HISTOGRAM_SQL
ORACLES["rolling_7day_revenue"] = ROLLING_SQL


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style: yearly revenue flow between two nation pairs.

    The classic two-dimension-chain join: lineitem is enriched with its
    supplier's nation (broadcast supplier⋈nation) and its order's
    customer's nation (orders is the one shuffle join; customer⋈nation
    broadcast). The disjunctive nation-pair predicate lives in the join
    output filter — Catalyst pushes the per-side nation IN-lists into the
    broadcast dimension scans.
    """
    nation = _t(spark, sf_dir, "nation")
    sup = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    revenue = money(F.col("l_extendedprice")) * (
        F.lit(1).cast("decimal(18,2)") - money(F.col("l_discount"))
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style: top 20 customers by revenue lost to returns.

    One quarter of orders, lineitems flagged 'R'. orders⋈lineitem shuffles;
    customer and nation broadcast onto the aggregated (small) side — the
    aggregation runs BEFORE the dimension joins, so only ~num_customers
    rows carry through the enrichment.
    """
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = money(F.col("l_extendedprice")) * (
        F.lit(1).cast("decimal(18,2)") - money(F.col("l_discount"))
    )
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )
    return (
        per_cust.join(broadcast(cust), per_cust.o_custkey == cust.c_custkey)
        .join(broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            F.col("c_custkey"),
            F.col("c_name"),
            F.col("n_name").alias("nation"),
            F.col("c_acctbal"),
            F.col("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name AS nation, c_acctbal, revenue
FROM (
  SELECT o_custkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
  GROUP BY o_custkey
) r
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style: promo-type revenue share for one ship month.

    Scalar result from a single broadcast join: part is the build side,
    the month filter prunes lineitem at the scan. The conditional sum is
    one pass (no second scan for the numerator).
    """
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    revenue = money(F.col("l_extendedprice")) * (
        F.lit(1).cast("decimal(18,2)") - money(F.col("l_discount"))
    )
    promo = F.when(F.col("p_type").startswith("PROMO"), revenue).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(revenue).cast("double")
            ).alias("promo_revenue_pct")
        )
        .select(F.round(F.col("promo_revenue_pct"), 9).alias("promo_revenue_pct"))
    )


Q14_SQL = """
SELECT round(100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
             THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
     / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 9) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'
"""


def q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style: revenue from three disjunctive brand/size/qty brackets.

    The textbook OR-of-ANDs predicate: expressed as one join filter so
    Catalyst can factor the common l_partkey equi-condition into a
    broadcast hash join and evaluate the residual disjunction on joined
    rows (instead of three separate scans unioned).
    """
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    revenue = money(F.col("l_extendedprice")) * (
        F.lit(1).cast("decimal(18,2)") - money(F.col("l_discount"))
    )
    bracket = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(1, 20))
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size").between(10, 30))
            & (F.col("l_quantity").between(10, 40))
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size").between(20, 50))
            & (F.col("l_quantity").between(20, 60))
        )
    )
    return (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .filter(bracket)
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


Q19_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 40)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 60)
"""

QUERIES["q7_volume_shipping"] = q7_volume_shipping
QUERIES["q10_returned_items"] = q10_returned_items
QUERIES["q14_promo_revenue"] = q14_promo_revenue
QUERIES["q19_bracket_revenue"] = q19_bracket_revenue
ORACLES["q7_volume_shipping"] = Q7_SQL
ORACLES["q10_returned_items"] = Q10_SQL
ORACLES["q14_promo_revenue"] = Q14_SQL
ORACLES["q19_bracket_revenue"] = Q19_SQL


def supplier_balance_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-position windows: percent_rank + cume_dist of each
    supplier's account balance within its nation.

    Covers the remaining rank-family window functions; one shuffle on the
    partition key (nationkey), rank state O(1) per row.
    """
    sup = _t(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    return sup.select(
        "s_suppkey",
        F.col("s_nationkey").cast("int").alias("nationkey"),
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
    )


SUPPLIER_BALANCE_DIST_SQL = """
SELECT s_suppkey,
       CAST(s_nationkey AS INTEGER) AS nationkey,
       round(percent_rank() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey), 9) AS pct_rank,
       round(cume_dist() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey), 9) AS cume
FROM supplier
"""

QUERIES["supplier_balance_dist"] = supplier_balance_dist
ORACLES["supplier_balance_dist"] = SUPPLIER_BALANCE_DIST_SQL


def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form rollup/cube specialize):
    revenue by (status, priority), by status alone, and grand total, in one
    pass — map-side expansion x3 + one partial-aggregated shuffle instead
    of three scans unioned.
    """
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """,
        orders=_t(spark, sf_dir, "orders"),
    )


GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""

QUERIES["grouping_sets_revenue"] = grouping_sets_revenue
ORACLES["grouping_sets_revenue"] = GROUPING_SETS_SQL


def sketch_distinct_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch coverage: HLL++ approx_count_distinct vs exact, with
    a 5% accuracy gate the oracle asserts must hold.

    At 100 TB exact count-distinct shuffles every distinct key; the HLL
    sketch is a few KB per group and merges associatively (the partial-agg
    shape). The oracle cannot reproduce Spark's HLL value, so the CONTRACT
    is oracle-checked instead: exact counts match, and the boolean
    within-5% gate must be TRUE — if Spark's sketch ever drifts past the
    configured rsd, the value-hash comparison fails the row.
    """
    orders = _t(spark, sf_dir, "orders")
    per_status = orders.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").alias("exact_customers"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx"),
    )
    return per_status.select(
        "o_orderstatus",
        "exact_customers",
        (
            F.abs(F.col("approx") - F.col("exact_customers"))
            <= 0.05 * F.col("exact_customers")
        ).alias("within_5pct"),
    )


SKETCH_DISTINCT_SQL = """
SELECT o_orderstatus,
       COUNT(DISTINCT o_custkey) AS exact_customers,
       TRUE AS within_5pct
FROM orders
GROUP BY o_orderstatus
"""

QUERIES["sketch_distinct_accuracy"] = sketch_distinct_accuracy
ORACLES["sketch_distinct_accuracy"] = SKETCH_DISTINCT_SQL


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style: revenue from orders of a brand's parts at quantities
    below 20% of that part's average.

    The correlated scalar subquery (per-part avg quantity) becomes an
    aggregate + self-join: one extra partial-aggregated pass over lineitem
    keyed by partkey, broadcast back against the filtered brand subset.
    """
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#5")
    li = _t(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            (F.sum(money(F.col("l_extendedprice"))) / F.lit(7.0))
            .cast("double")
            .alias("avg_yearly")
        )
        .select(F.round(F.col("avg_yearly"), 6).alias("avg_yearly"))
    )


Q17_SQL = """
SELECT round(CAST(SUM(CAST(l1.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6) AS avg_yearly
FROM lineitem l1
JOIN part ON l1.l_partkey = p_partkey
WHERE p_brand = 'Brand#5'
  AND l1.l_quantity < (
    SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey
  )
"""


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style: customers whose single orders exceed 200 total units.

    HAVING-subquery shape: aggregate lineitem by order, filter on the sum,
    then semi-join enrich. The order-level aggregate is the only big
    shuffle; customers broadcast onto the (tiny) qualifying set.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(money(F.col("l_quantity"))).cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 200)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            F.col("o_orderkey"),
            "o_orderdate",
            F.col("o_totalprice"),
            "total_qty",
        )
    )


Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 200
) b
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style: positive-balance customers who never ordered,
    bucketed by nation, vs the above-average-balance threshold.

    Two subquery shapes in one plan: an uncorrelated scalar aggregate
    (average positive balance — a 1-row broadcast cross join) and an
    anti-join (customers with no orders). No shuffle of customer twice:
    the anti-join probes the orders custkey set.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("bal_cut")
    )
    never = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    )
    return (
        never.crossJoin(broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("bal_cut"))
        .groupBy((F.col("c_nationkey") % 5).cast("int").alias("cntry_grp"))
        .agg(
            F.count("*").alias("n_custs"),
            F.sum(money(F.col("c_acctbal"))).cast("double").alias("total_bal"),
        )
    )


Q22_SQL = """
SELECT CAST(c_nationkey % 5 AS INTEGER) AS cntry_grp,
       COUNT(*) AS n_custs,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY 1
"""

QUERIES["q17_small_quantity_revenue"] = q17_small_quantity_revenue
QUERIES["q18_large_volume_customers"] = q18_large_volume_customers
QUERIES["q22_global_sales_opportunity"] = q22_global_sales_opportunity
ORACLES["q17_small_quantity_revenue"] = Q17_SQL
ORACLES["q18_large_volume_customers"] = Q18_SQL
ORACLES["q22_global_sales_opportunity"] = Q22_SQL


def salted_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-tooling in the oracle-checked registry: revenue per market
    segment computed through ``functions.salted_join``.

    Market segment is a 5-value key — the textbook skew shape when joined
    directly. The salted join spreads each hot key across 8 sub-keys
    (content-derived salt, replicated right side); salting is invisible in
    the RESULT, so the oracle is the plain join — exactly the property that
    makes the tool safe to drop into a pipeline.
    """
    from ..functions import salted_join

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    seg = cust.select(F.col("c_mktsegment").alias("segment")).distinct()
    by_seg = cust.join(orders, cust.c_custkey == orders.o_custkey).select(
        F.col("c_mktsegment").alias("segment"), "o_totalprice"
    )
    joined = salted_join(by_seg, seg, "segment", n_salt=8, how="inner")
    return joined.groupBy("segment").agg(
        F.sum(money(F.col("o_totalprice"))).cast("double").alias("revenue"),
        F.count("*").alias("n_orders"),
    )


SALTED_SEGMENT_SQL = """
SELECT c_mktsegment AS segment,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_mktsegment
"""

QUERIES["salted_segment_revenue"] = salted_segment_revenue
ORACLES["salted_segment_revenue"] = SALTED_SEGMENT_SQL


def sketch_percentile_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch coverage: approx_percentile vs exact percentile_cont
    with an oracle-asserted accuracy gate (companion to
    sketch_distinct_accuracy).

    Exact per-group percentiles hold all values; the KLL/GK-style sketch is
    the mergeable at-scale form. Gate: the approx median must land between
    the exact 45th and 55th percentiles — that RANK-space contract is what
    the sketch guarantees (accuracy=10000 => ~0.01% rank error), and the
    oracle asserts it as a literal TRUE.
    """
    orders = _t(spark, sf_dir, "orders")
    per_status = orders.groupBy("o_orderstatus").agg(
        F.round(
            F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice)"), 6
        ).alias("exact_median"),
        F.expr("approx_percentile(o_totalprice, 0.5, 10000)").alias("approx_median"),
        F.expr("percentile_cont(0.45) WITHIN GROUP (ORDER BY o_totalprice)").alias("p45"),
        F.expr("percentile_cont(0.55) WITHIN GROUP (ORDER BY o_totalprice)").alias("p55"),
    )
    return per_status.select(
        "o_orderstatus",
        "exact_median",
        F.col("approx_median").between(F.col("p45"), F.col("p55")).alias("within_rank_band"),
    )


SKETCH_PERCENTILE_SQL = """
SELECT o_orderstatus,
       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 6) AS exact_median,
       TRUE AS within_rank_band
FROM orders
GROUP BY o_orderstatus
"""

QUERIES["sketch_percentile_accuracy"] = sketch_percentile_accuracy
ORACLES["sketch_percentile_accuracy"] = SKETCH_PERCENTILE_SQL


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style national market share.

    Per order year: the revenue share supplied by one nation (NATION_3)
    among all PROMO-type parts sold into the ASIA region. Every dimension
    (part, customer, both nation roles, region, supplier) broadcasts; the
    only shuffle join is lineitem ⋈ orders, and the two-level aggregation
    (conditional sum / total sum) is one partial-aggregated groupBy on the
    year. The conditional branch is applied to the raw price BEFORE the
    decimal money cast so both engines sum the identical decimal stream.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part_f = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation")
    asia = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n_cust = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = money(F.col("l_extendedprice")) * (
        F.lit(1).cast("decimal(18,2)") - money(F.col("l_discount"))
    )
    nat_vol = money(
        F.when(F.col("supp_nation") == "NATION_3", F.col("l_extendedprice")).otherwise(0.0)
    ) * (F.lit(1).cast("decimal(18,2)") - money(F.col("l_discount")))
    return (
        li.join(broadcast(part_f), li.l_partkey == part_f.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(broadcast(n_cust), cust.c_nationkey == F.col("cn_key"))
        .join(broadcast(asia), F.col("cn_region") == asia.r_regionkey)
        .join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(broadcast(n_supp), supp.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(nat_vol).cast("double") / F.sum(vol).cast("double"), 9
            ).alias("mkt_share")
        )
    )


Q8_SQL = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       round(
         CAST(SUM(CAST(CASE WHEN n2.n_name = 'NATION_3' THEN l_extendedprice ELSE 0 END AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 9) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'PROMO' AND r_name = 'ASIA'
GROUP BY 1
"""

QUERIES["q8_market_share"] = q8_market_share
ORACLES["q8_market_share"] = Q8_SQL


def q12_ship_delay_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style priority-by-shipping-class counts.

    The literal Q12 buckets by l_shipmode and commit/receipt lateness;
    this fixture carries neither column, so the shipping class is derived
    from the ship delay (l_shipdate - o_orderdate: FAST < 30 days, NORMAL
    30-90, SLOW > 90) — same plan shape: one lineitem ⋈ orders shuffle
    join, then conditional counts of high- vs low-priority orders per
    class. Filter and 2-column projections push to both scans.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    delay = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    ship_class = (
        F.when(delay < 30, "FAST").when(delay <= 90, "NORMAL").otherwise("SLOW")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(ship_class.alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


Q12_SQL = """
SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) < 30 THEN 'FAST'
            WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) <= 90 THEN 'NORMAL'
            ELSE 'SLOW' END AS ship_class,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""

QUERIES["q12_ship_delay_priority"] = q12_ship_delay_priority
ORACLES["q12_ship_delay_priority"] = Q12_SQL


def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-style customer order-count distribution.

    For each order count c_count, how many customers placed exactly that
    many qualifying orders — including the zero bucket, which is why the
    join must be LEFT OUTER (an inner join silently drops never-ordered
    customers; the reference Q13's entire point). The literal query
    excludes orders by comment pattern; this fixture has no o_comment, so
    low-priority ('5-LOW') orders stand in as the exclusion. Two shuffles
    by nature: per-customer count, then the count-of-counts histogram
    (second one is tiny).
    """
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
GROUP BY c_count
"""

QUERIES["q13_customer_order_distribution"] = q13_customer_order_distribution
ORACLES["q13_customer_order_distribution"] = Q13_SQL


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-style top supplier by quarterly revenue.

    Revenue per supplier over one 3-month shipping window, returning the
    supplier(s) whose revenue equals the maximum — the literal query's
    CREATE VIEW + scalar-subquery-max shape, expressed as an aggregate
    reused twice (Catalyst evaluates the tiny max as a 1-row broadcast).
    Exact-equality on the max is safe cross-engine because revenue is a
    decimal sum cast to double — bit-identical in both engines.
    """
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                money(F.col("l_extendedprice"))
                * (F.lit(1).cast("decimal(18,2)") - money(F.col("l_discount")))
            )
            .cast("double")
            .alias("total_revenue")
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""

QUERIES["q15_top_supplier"] = q15_top_supplier
ORACLES["q15_top_supplier"] = Q15_SQL


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-style suppliers who kept orders waiting.

    Count, per supplier, the finalized multi-supplier orders where that
    supplier was the ONLY late one. The literal query says EXISTS (another
    supplier's line) AND NOT EXISTS (another supplier's LATE line); lacking
    l_commitdate/l_receiptdate, "late" here is a ship delay over 90 days.
    Instead of Q21's two correlated self-joins of lineitem, ONE per-order
    aggregation computes (distinct suppliers, distinct late suppliers,
    max late supplier) — when n_late_supps == 1 that max IS the lone late
    supplier, so the former second branch (a distinct over the late lines
    joined back onto the profile: a second lineitem⋈orders evaluation plus
    two more fact-wide Exchanges) collapses into the aggregate itself
    (remove shuffles outright and don't evaluate a fact subtree twice;
    r13). The qualifying orders then aggregate by that supplier —
    a #orders-sized shuffle, not a fact one. Top-20 via
    TakeOrderedAndProject.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    late = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")) > 90
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey", "l_suppkey", late.alias("is_late")
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "n_late_supps"
        ),
        # when n_late_supps == 1 this is exactly the lone late supplier;
        # rows where it isn't 1 are filtered out below, so the max is
        # never observed ambiguous — proved equal to the old
        # distinct-late-lines ⋈ profile formulation by the unchanged
        # oracle hash
        F.max(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("late_supp"),
    )
    waiting = (
        per_order.filter((F.col("n_supps") >= 2) & (F.col("n_late_supps") == 1))
        .groupBy(F.col("late_supp").alias("l_suppkey"))
        .agg(F.count("*").alias("numwait"))
    )
    return (
        waiting.join(broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


Q21_SQL = """
WITH lo AS (
  SELECT l_orderkey, l_suppkey,
         date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 90 AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
),
per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supps,
         COUNT(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late_supps
  FROM lo GROUP BY l_orderkey
),
waiting AS (
  SELECT w.l_suppkey, COUNT(*) AS numwait
  FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lo WHERE is_late) w
  JOIN per_order p ON p.l_orderkey = w.l_orderkey
  WHERE p.n_supps >= 2 AND p.n_late_supps = 1
  GROUP BY w.l_suppkey
)
SELECT s_name, numwait
FROM waiting JOIN supplier ON l_suppkey = s_suppkey
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""

QUERIES["q21_waiting_suppliers"] = q21_waiting_suppliers
ORACLES["q21_waiting_suppliers"] = Q21_SQL

def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style minimum-cost supplier per part.

    The literal Q2 scans partsupp for the EUROPE supplier whose
    ps_supplycost equals the correlated per-part minimum; this fixture has
    no partsupp, so the observed unit price (l_extendedprice / l_quantity,
    minimized over a supplier's lineitems) stands in for supply cost — the
    same correlated-scalar-min shape over a derived part↔supplier bridge.
    part and the region-filtered supplier dimension broadcast into the one
    lineitem scan; the pair aggregation is the only fact shuffle, and the
    per-part minimum runs as a window over the already-small pair
    aggregate. Exact-equality on the min is safe cross-engine: both
    engines minimize the identical stream of binary64 quotients.
    """
    li = _t(spark, sf_dir, "lineitem")
    part_f = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 10)
    ).select("p_partkey", "p_name")
    europe = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = _t(spark, sf_dir, "nation")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(broadcast(europe), nation.n_regionkey == europe.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    unit_cost = F.col("l_extendedprice").cast("double") / F.col(
        "l_quantity"
    ).cast("double")
    pair = (
        li.join(broadcast(part_f), li.l_partkey == part_f.p_partkey)
        .join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(F.min(unit_cost).alias("unit_cost"))
    )
    part_min = Window.partitionBy("p_partkey")
    return (
        pair.withColumn("min_cost", F.min("unit_cost").over(part_min))
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "unit_cost")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


Q2_SQL = """
WITH pair AS (
  SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
         MIN(CAST(l_extendedprice AS DOUBLE) / CAST(l_quantity AS DOUBLE)) AS unit_cost
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE p_type = 'LARGE' AND p_size <= 10 AND r_name = 'EUROPE'
  GROUP BY 1, 2, 3, 4, 5, 6
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, unit_cost
FROM (SELECT *, MIN(unit_cost) OVER (PARTITION BY p_partkey) AS min_cost FROM pair)
WHERE unit_cost = min_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""

QUERIES["q2_min_cost_supplier"] = q2_min_cost_supplier
ORACLES["q2_min_cost_supplier"] = Q2_SQL


def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style profit by supplier nation and order year.

    The literal Q9 prices cost from ps_supplycost; absent partsupp, the
    part's retail price times quantity stands in as the cost leg, so
    profit = discounted revenue − retail cost — identical plan shape:
    a name-filtered part broadcast pruning the lineitem scan, supplier →
    nation broadcast for the grouping key, orders joined only for the
    year. All money arithmetic stays DECIMAL end-to-end (scale-4
    products, one subtraction) so partial sums are exact and
    partition-order independent. One fact shuffle (lineitem ⋈ orders) and
    one partial-aggregated groupBy on (nation, year).
    """
    li = _t(spark, sf_dir, "lineitem")
    part_f = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    ).select("p_partkey", "p_retailprice")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    amount = money(F.col("l_extendedprice")) * (
        F.lit(1).cast("decimal(18,2)") - money(F.col("l_discount"))
    ) - money(F.col("p_retailprice")) * money(F.col("l_quantity"))
    return (
        li.join(broadcast(part_f), li.l_partkey == part_f.p_partkey)
        .join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


Q9_SQL = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
                - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""

QUERIES["q9_product_type_profit"] = q9_product_type_profit
ORACLES["q9_product_type_profit"] = Q9_SQL


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-style important-stock identification.

    The literal Q11 sums ps_supplycost * ps_availqty per part for one
    nation's suppliers and keeps parts above a fixed fraction of the
    national total (a scalar aggregate subquery in HAVING). Here the
    shipped value (discounted extended price) of NATION_7-supplied lines
    replaces the stock value — same shape: per-part decimal aggregation,
    a 1-row global total broadcast back as a cross join, and a
    fraction-of-total HAVING filter evaluated in binary64 on both
    engines (identical product, identical comparison).
    """
    li = _t(spark, sf_dir, "lineitem")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            broadcast(
                _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    value = money(F.col("l_extendedprice")) * (
        F.lit(1).cast("decimal(18,2)") - money(F.col("l_discount"))
    )
    # Compute per_part ONCE: the naive form (the scalar-total subquery as
    # a broadcast cross join over a repeated subplan) ran the lineitem
    # join+agg TWICE — AQE's stage cache did not dedup the two exchanges
    # (verified r12: 2 lineitem scans, 0 ReusedExchange). Materializing
    # per_part (one row per part — orders of magnitude smaller than
    # lineitem) and folding the global total to a driver scalar makes the
    # HAVING filter a literal comparison: one lineitem scan total.
    #
    # EAGER-JOB + LIFECYCLE CONTRACT: constructing this
    # DataFrame runs TWO Spark jobs up front (the localCheckpoint
    # materialization and the 1-row scalar collect) — callers composing
    # q11 lazily should expect that. localCheckpoint instead of .cache()
    # so nothing leaks for the session lifetime: checkpoint blocks are
    # released by the ContextCleaner when the returned plan is GC'd,
    # where the old session-lifetime InMemoryRelation accumulated one
    # cached relation per call until clearCache. Tradeoff: localCheckpoint
    # blocks are unreplicated, so an executor loss fails the query instead
    # of recomputing — acceptable for a #parts x 16 B intermediate; on a
    # dynamic-allocation cluster prefer reliable checkpointing.
    per_part = (
        li.join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(value).cast("double").alias("part_value"))
    ).localCheckpoint(eager=True)
    total = per_part.agg(F.sum("part_value")).collect()[0][0] or 0.0
    return (
        per_part.filter(F.col("part_value") > F.lit(total) * 0.001)
        .join(broadcast(part), F.col("l_partkey") == part.p_partkey)
        .select("p_partkey", "p_name", "part_value")
        .orderBy(F.desc("part_value"), "p_partkey")
    )


Q11_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS part_value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY l_partkey
)
SELECT p_partkey, p_name, part_value
FROM per_part
JOIN part ON l_partkey = p_partkey
WHERE part_value > (SELECT SUM(part_value) FROM per_part) * 0.001
ORDER BY part_value DESC, p_partkey
"""

QUERIES["q11_important_stock"] = q11_important_stock
ORACLES["q11_important_stock"] = Q11_SQL


def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style supplier count per part class.

    The literal Q16 counts distinct partsupp suppliers per
    (brand, type, size), excluding one brand/type-prefix and
    complaint-flagged suppliers via NOT IN. The bridge here is the
    distinct (l_partkey, l_suppkey) pairs observed in lineitem, and the
    complaint proxy is a negative account balance. Same shape: a
    broadcast anti-join for the NOT IN, a broadcast dimension filter,
    then a distinct-aggregation — the count-distinct's expand is the one
    fact shuffle; everything else is map-side.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part_f = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#9") & (~F.col("p_type").like("PROMO%"))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad_supp = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(broadcast(bad_supp), li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(broadcast(part_f), li.l_partkey == part_f.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#9' AND p_type NOT LIKE 'PROMO%'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""

QUERIES["q16_supplier_part_count"] = q16_supplier_part_count
ORACLES["q16_supplier_part_count"] = Q16_SQL


def q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-style suppliers holding excess promotable stock.

    The literal Q20 keeps suppliers whose availqty for a name-prefixed
    part exceeds half that part's shipped quantity in a year (nested IN
    subqueries over partsupp → lineitem). Without availqty, a supplier
    qualifies when its own shipped quantity of such a part exceeds half
    the part's total across all suppliers in the window — i.e. it
    dominates that part's supply. Same nested-semi-join shape: the
    name-filtered part broadcast prunes the scan, the (part, supplier)
    aggregation is the one fact shuffle, the per-part total runs as a
    window over the small pair aggregate, and the qualifying supplier
    keys semi-join the supplier dimension. The half-threshold compare is
    binary64 (0.5 scaling is exact) on identical decimal-summed inputs.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    part_f = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    ).select("p_partkey")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            broadcast(
                _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal")
    )
    pair = (
        li.join(broadcast(part_f), li.l_partkey == part_f.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(money(F.col("l_quantity"))).alias("pair_qty"))
    )
    part_total = Window.partitionBy("l_partkey")
    qualifying = (
        pair.withColumn("total_qty", F.sum("pair_qty").over(part_total))
        .filter(
            F.col("pair_qty").cast("double")
            > F.col("total_qty").cast("double") * 0.5
        )
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(broadcast(qualifying), supp.s_suppkey == qualifying.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


Q20_SQL = """
WITH pair AS (
  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS pair_qty
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'small%'
    AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY 1, 2
),
qualifying AS (
  SELECT DISTINCT l_suppkey
  FROM (SELECT *, SUM(pair_qty) OVER (PARTITION BY l_partkey) AS total_qty FROM pair)
  WHERE CAST(pair_qty AS DOUBLE) > CAST(total_qty AS DOUBLE) * 0.5
)
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE' AND s_suppkey IN (SELECT l_suppkey FROM qualifying)
ORDER BY s_name
"""

QUERIES["q20_part_promotion"] = q20_part_promotion
ORACLES["q20_part_promotion"] = Q20_SQL


def range_join_brackets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit RANGE JOIN: orders matched to a named price-bracket
    dimension on lo <= o_totalprice < hi.

    The non-equi join the brief names alongside as-of joins. The bracket
    dimension is tiny, so Catalyst plans a broadcast nested loop whose
    inner side is K rows — the correct physical form for band joins
    against a small dimension (the cross-product never materializes; each
    order scans K brackets). With a LARGE range dimension the scale play
    is binning: floor-bucket both sides to an equi-join key and resolve
    residual boundary rows per bucket (order_price_histogram is the
    degenerate all-equi form).
    """
    orders = _t(spark, sf_dir, "orders")
    brackets = spark.createDataFrame(
        [
            ("micro", 0.0, 50_000.0),
            ("small", 50_000.0, 150_000.0),
            ("medium", 150_000.0, 300_000.0),
            ("large", 300_000.0, 1e12),
        ],
        "bracket string, lo double, hi double",
    )
    return (
        orders.join(
            F.broadcast(brackets),
            (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("bracket")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_revenue"),
        )
    )


RANGE_JOIN_SQL = """
WITH brackets(bracket, lo, hi) AS (
  VALUES ('micro', 0.0, 50000.0),
         ('small', 50000.0, 150000.0),
         ('medium', 150000.0, 300000.0),
         ('large', 300000.0, 1e12)
)
SELECT bracket, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
FROM orders JOIN brackets
  ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY bracket
"""

QUERIES["range_join_brackets"] = range_join_brackets
ORACLES["range_join_brackets"] = RANGE_JOIN_SQL


# Join-key skew profiler -------------------------------------------------------

SKEW_TOP = 10


def join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew report for a join/aggregation key — the probe you run BEFORE
    choosing a mitigation (salting, AQE skew-join, broadcast) for a 100 TB
    shuffle: the top keys by row count, each with its share of the table
    and the global max/avg skew ratio.

    Scale shape: one partial-aggregated shuffle builds the per-key counts;
    the global stats collapse to ONE row that rides a broadcast cross
    join onto the top-k (TakeOrderedAndProject, never a global sort).
    Companion to salted_segment_revenue, which demonstrates the fix this
    report motivates.
    """
    orders = _t(spark, sf_dir, "orders")
    cnt = orders.groupBy("o_custkey").agg(F.count("*").alias("n_rows"))
    stats = cnt.agg(
        F.sum("n_rows").alias("total_rows"),
        F.max("n_rows").alias("max_rows"),
        F.avg("n_rows").alias("avg_rows"),
    )
    top = cnt.orderBy(F.desc("n_rows"), F.asc("o_custkey")).limit(SKEW_TOP)
    return top.crossJoin(F.broadcast(stats)).select(
        "o_custkey",
        "n_rows",
        F.round(F.col("n_rows") / F.col("total_rows").cast("double"), 9).alias(
            "share"
        ),
        "total_rows",
        F.round(F.col("max_rows") / F.col("avg_rows"), 9).alias("skew_ratio"),
    )


JOIN_KEY_SKEW_SQL = f"""
WITH cnt AS (
  SELECT o_custkey, COUNT(*) AS n_rows FROM orders GROUP BY o_custkey
),
stats AS (
  SELECT CAST(SUM(n_rows) AS BIGINT) AS total_rows,
         MAX(n_rows) AS max_rows,
         AVG(n_rows) AS avg_rows
  FROM cnt
),
top AS (
  SELECT o_custkey, n_rows FROM cnt
  ORDER BY n_rows DESC, o_custkey ASC LIMIT {SKEW_TOP}
)
SELECT t.o_custkey, t.n_rows,
       round(t.n_rows / CAST(s.total_rows AS DOUBLE), 9) AS share,
       s.total_rows,
       round(s.max_rows / s.avg_rows, 9) AS skew_ratio
FROM top t CROSS JOIN stats s
"""

QUERIES["join_key_skew"] = join_key_skew
ORACLES["join_key_skew"] = JOIN_KEY_SKEW_SQL


# Scale-safe global ranking ----------------------------------------------------

RANK_BUCKET_WIDTH = 50_000  # price units per range bucket


def global_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global dense ordering of orders by (o_totalprice, o_orderkey) WITHOUT
    a single-partition window — the two-level formulation that survives
    100 TB, where `ROW_NUMBER() OVER (ORDER BY ...)` (no PARTITION BY)
    funnels the whole table through one task.

    Level 1: rows bucket by a deterministic range of the sort key
    (floor(price / width)); per-bucket counts prefix-sum into bucket
    offsets — a window over n_buckets ROWS, not n_rows. Level 2: local
    row_number within each bucket (thousands of small parallel windows)
    plus the bucket's offset = the exact global rank. Same two-level
    prefix-sum shape as sampling.pack_sequences; the oracle computes the
    naive global window and must agree rank-for-rank.
    """
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice",
        F.floor(F.col("o_totalprice") / RANK_BUCKET_WIDTH).alias("bkt"),
    )
    per_bkt = orders.groupBy("bkt").agg(F.count("*").alias("n"))
    w_off = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bkt.select(
        "bkt", F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("offset")
    )
    w_local = Window.partitionBy("bkt").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.join(F.broadcast(offsets), "bkt")
        .select(
            "o_orderkey",
            "o_totalprice",
            (F.row_number().over(w_local) + F.col("offset")).alias("global_rank"),
        )
    )


GLOBAL_RANK_SQL = """
SELECT o_orderkey, o_totalprice,
       ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS global_rank
FROM orders
"""

QUERIES["global_rank_orders"] = global_rank_orders
ORACLES["global_rank_orders"] = GLOBAL_RANK_SQL


# Deequ-style table profile: per-column completeness + uniqueness in one
# pass over the table.
_PROFILE_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
]


def data_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile of the orders table: per column, row count, null
    count, and exact distinct count — the data-quality screen (Deequ-style
    completeness/uniqueness metrics) a pipeline runs before trusting an
    ingested table.

    ONE aggregation over one scan computes every metric: Catalyst plans
    the N exact count-distincts via a single Expand (each input row fans
    out once per profiled column) + one partial-aggregated shuffle — still
    a single pass over the data, vs the naive N full scans. The 1-row
    result is then unpivoted driver-side-free via stack() into the
    (col_name, metric...) shape. At 100 TB the expand multiplies shuffle
    input by #columns; for very wide tables swap exact count_distinct for
    approx_count_distinct per column — kept exact here so the DuckDB
    oracle can replay it bit-for-bit.
    """
    orders = _t(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        # coalesce: over zero rows Spark's sum is NULL but the oracle's
        # COUNT(*)-COUNT(c) is 0 — keep the degenerate case hash-identical.
        aggs.append(
            F.coalesce(
                F.sum(F.col(c).isNull().cast("long")), F.lit(0).cast("long")
            ).alias(f"nulls_{c}")
        )
        aggs.append(F.count_distinct(F.col(c)).alias(f"nd_{c}"))
    one = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nulls_{c}, nd_{c}" for c in _PROFILE_COLS
    )
    return one.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS (col_name, n_nulls, n_distinct)",
        "n_rows",
    ).select("col_name", "n_rows", "n_nulls", "n_distinct")


DATA_PROFILE_SQL = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS col_name, COUNT(*) AS n_rows,"
    f" COUNT(*) - COUNT({c}) AS n_nulls,"
    f" COUNT(DISTINCT {c}) AS n_distinct FROM orders"
    for c in _PROFILE_COLS
)

QUERIES["data_profile_orders"] = data_profile_orders
ORACLES["data_profile_orders"] = DATA_PROFILE_SQL


def pareto_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-front) query: orders not dominated on
    (earlier o_orderdate, higher o_totalprice). Order B dominates A when
    B.date <= A.date and B.price >= A.price with at least one strict.

    The classic skyline needs no all-pairs join for a 2-D front: collapse
    to per-date maxima first (bounded by date cardinality — a few thousand
    rows at ANY fact scale), take a running max over the date-ordered
    aggregate, and broadcast the per-date thresholds back onto the fact
    scan. A is on the front iff no strictly earlier date reached its price
    (prev_max < price) and nothing on its own date strictly beat it
    (price = its date's max). The only unpartitioned window runs over the
    per-date aggregate, not the fact table — the same bounded-driver-state
    trade documented for global_rank_orders. Prices compare as
    DECIMAL(18,2) so ties are exact.
    """
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice",
        money(F.col("o_totalprice")).alias("p2"),
    )
    per_date = orders.groupBy("o_orderdate").agg(F.max("p2").alias("day_max"))
    w = Window.orderBy("o_orderdate").rowsBetween(Window.unboundedPreceding, -1)
    thresholds = per_date.withColumn("prev_max", F.max("day_max").over(w))
    return (
        orders.join(F.broadcast(thresholds), "o_orderdate")
        .filter(
            (F.col("prev_max").isNull() | (F.col("prev_max") < F.col("p2")))
            & (F.col("day_max") == F.col("p2"))
        )
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )


PARETO_SQL = """
WITH d AS (
  SELECT o_orderdate, MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS day_max
  FROM orders GROUP BY o_orderdate
),
t AS (
  SELECT o_orderdate, day_max,
         MAX(day_max) OVER (ORDER BY o_orderdate
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM d
)
SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice
FROM orders o JOIN t USING (o_orderdate)
WHERE (t.prev_max IS NULL OR t.prev_max < CAST(o.o_totalprice AS DECIMAL(18,2)))
  AND t.day_max = CAST(o.o_totalprice AS DECIMAL(18,2))
"""

QUERIES["pareto_orders"] = pareto_orders
ORACLES["pareto_orders"] = PARETO_SQL
