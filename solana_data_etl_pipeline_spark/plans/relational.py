"""Relational query suite over the star schema.

The reference's only documented join is `fact LEFT JOIN dim_programs`
(reference docs/SCHEMA.md:362-370); its schema is explicitly designed
to minimize joins. For a complete engine we implement the full
relational operator surface -- multi-way and outer joins, windows,
having-filters, grouping sets, top-k -- as declarative plans over the
TPC-H-style testdata tables.

Scale notes: dimension tables (region/nation/customer/supplier/part)
are broadcast explicitly -- at 100 TB the fact tables (lineitem,
orders) must never shuffle for a dim join. The orders<->lineitem joins
are key-partitioned shuffles on the same key (orderkey) so AQE can
plan them as a single exchange reuse; aggregations are
partial+final (map-side combine) by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from solana_data_etl_pipeline_spark.plans.testdata_model import load_table


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary report (scan -> hash agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: 3-way join + agg + top-10 (broadcast customer)."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: fact joined through 4 broadcast dims -> revenue per nation."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def segment_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documented-join parity: fact LEFT JOIN dim -> per-segment stats
    (reference docs/SCHEMA.md:362-370's fact->dim left join shape)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left")
        .groupBy(F.coalesce(F.col("c_mktsegment"), F.lit("unknown")).alias("mktsegment"))
        .agg(
            F.count("*").alias("order_count"),
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_order_value"),
        )
    )


def big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style: agg -> HAVING -> join back to dimension."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round("total_qty", 2).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


def sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP (returnflag -> linestatus ->
    grand total). Catalyst expands grouping sets into one Expand +
    single hash aggregate -- one scan, one shuffle for all levels.
    `level` is the grouping_id bitmask (0=detail, 1=flag subtotal,
    3=grand total) so subtotal rows are unambiguous even if the
    grouped columns could be NULL."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("bigint").alias("level"),
            F.count("*").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "level",
            "n_items",
            "revenue",
        )
    )


def order_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (order year, priority): all four grouping combinations
    in one Expand + hash-agg pass (no multi-scan union)."""
    orders = load_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate").cast("bigint").alias("order_year")
    return (
        orders.select(yr, F.col("o_orderpriority"), F.col("o_totalprice"))
        .cube("order_year", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("level"),
            F.count("*").alias("order_count"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce(F.col("order_year").cast("string"), F.lit("ALL")).alias("order_year"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("order_priority"),
            "level",
            "order_count",
            "total_price",
        )
    )


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style correlated scalar subquery, decorrelated: revenue
    from below-average-quantity lineitems of one brand/type. The
    correlated ``l_quantity < 0.2 * (SELECT avg ... WHERE l_partkey =
    p_partkey)`` becomes a per-part window average -- the part filter
    broadcast-semi-joins BEFORE the average, so the fact table is
    scanned ONCE and shuffled once on l_partkey (vs. the textbook
    agg-then-self-join decorrelation, which scans it twice)."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#5") & (F.col("p_type") == "ECONOMY")
    )
    li = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(part.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey")
    )
    qty_cap = 0.2 * F.avg("l_quantity").over(Window.partitionBy("l_partkey"))
    return (
        li.select("l_quantity", "l_extendedprice", qty_cap.alias("qty_cap"))
        .filter(F.col("l_quantity") < F.col("qty_cap"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").alias("qualifying_lineitems"),
        )
    )


def order_value_histogram(spark: SparkSession, sf_dir: str, bin_width: float = 50_000.0) -> DataFrame:
    """Fixed-width histogram of order values: bucket id is pure
    per-row arithmetic (no global sort, unlike NTILE-based deciles
    which serialize through one partition), so the whole plan is a
    single partial+final hash agg -- the scale-correct way to get a
    distribution sketch of a 100 TB column."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / bin_width).cast("int")
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("orders"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_value"),
        )
        .select(
            "bucket",
            F.round(F.lit(bin_width) * F.col("bucket"), 2).alias("bucket_lo"),
            "orders",
            "avg_value",
        )
    )
