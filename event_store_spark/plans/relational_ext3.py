"""Correlated-subquery analytics, decorrelated Spark-first (Q58-Q60).

The three classic TPC-H correlated shapes (Q17 / Q20 / Q21 families)
restated over the driver fixtures. The ORACLE keeps the textbook
correlated form — DuckDB's decorrelator handles it — while the Spark
plan is the hand-decorrelated join+aggregate DAG Catalyst actually needs
(Spark cannot execute a per-row correlated aggregate subquery; the
rewrite IS the operator).

Determinism note: every correlated threshold here derives from
`l_quantity`, whose values are integer-valued doubles — sums and
averages of exactly-representable integers are order-independent in
IEEE, so thresholds like `0.2 * AVG(...)` compare identically on both
engines without banding; only the final revenue sums are rounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_store_spark.plans.finalsort import catalog_sort
from event_store_spark.plans.registry import register
from event_store_spark.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@register(
    "q58",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#4'
      AND l_quantity < (SELECT 0.2 * AVG(l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
)
def q58_small_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue of below-average-quantity orders for one
    brand (the 'small-order loss' report).

    Decorrelation: the per-part threshold `0.2 * AVG(l_quantity)` is one
    hash-agg over lineitem, joined back by partkey; the brand dimension
    broadcasts. Catalyst then pushes the brand filter through the join
    so only the brand's parts' lineitems survive the threshold join. At
    100 TB: the threshold agg shuffles (partkey, sum, count) partials —
    map-combined — and never the row stream twice.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#4")
    thresh = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("_th")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(thresh.withColumnRenamed("l_partkey", "_tk"), F.col("l_partkey") == F.col("_tk"))
        .where(F.col("l_quantity") < F.col("_th"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "q59",
    oracle="""
    SELECT s_name FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(l_quantity) > 0.2 * (SELECT SUM(l_quantity)
                                        FROM lineitem l2
                                        WHERE l2.l_partkey = lineitem.l_partkey))
    ORDER BY s_name
    """,
)
def q59_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped more than 20% of some
    part's total shipped quantity (single-source concentration risk;
    threshold set where the fixture's share distribution actually has
    mass — max share is ~0.25, so a 0.5 cut would pin an empty result).

    Decorrelation: one (supp, part) aggregation joined against the
    per-part totals. Two forms were measured at sf0.1 (5 reps, medians):
    the partkey-window SUM over the (supp, part) aggregate's own lineage
    (one lineitem scan, but a full sort of the aggregate) ran 1.17 s; this
    form — per-part totals aggregated directly off lineitem (map-side
    partials collapse to one row per part before the exchange) with the
    join strategy left to AQE — runs 0.82 s. The second scan is columnar
    and combine-collapsed, cheaper than sorting the (supp, part) rows; no
    broadcast hint, so at 100 TB AQE degrades the part-total join to a
    shuffled equi-join instead of OOMing a forced broadcast. The
    supplier-name join is a broadcast left-semi (IN ≡ semi join after
    distinct).
    """
    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey", "l_quantity")
    sp = li.groupBy("l_suppkey", "l_partkey").agg(F.sum("l_quantity").alias("_sq"))
    pt = (
        li.groupBy("l_partkey")
        .agg(F.sum("l_quantity").alias("_pq"))
        .withColumnRenamed("l_partkey", "_pk")
    )
    dominant = (
        sp.join(pt, F.col("l_partkey") == F.col("_pk"))
        .where(F.col("_sq") > F.lit(0.2) * F.col("_pq"))
        .select("l_suppkey")
        .distinct()
    )
    sup = _t(spark, sf_dir, "supplier")
    return (
        sup.join(F.broadcast(dominant), sup.s_suppkey == dominant.l_suppkey, "left_semi")
        .select("s_name")
        .orderBy("s_name")
    )


@register(
    "q60",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS late_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY)
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
)
def q60_fully_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: orders where EVERY line shipped more than 30 days
    after the order date (universally-late fulfilment, grouped by
    priority).

    Decorrelation of EXISTS ∧ NOT EXISTS over the same child: one
    aggregation computes each order's MIN(l_shipdate) — 'has lines' is
    the join hit itself and 'no line within 30 days' is
    min_ship > o_orderdate + 30d — so the forall collapses into a single
    per-order aggregate instead of two correlated probes. One lineitem
    shuffle on orderkey, orders join, tiny priority agg.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    min_ship = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("_ms"))
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    return (
        orders.join(min_ship, orders.o_orderkey == min_ship.l_orderkey)
        .where(F.col("_ms") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("late_orders"))
        .transform(lambda d: catalog_sort(d, "o_orderpriority"))
    )
