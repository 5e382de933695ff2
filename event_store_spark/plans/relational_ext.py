"""Extended relational inventory Q38–Q43 — operator-coverage widening.

Second wave beyond SURVEY §2.9: pivot, GROUPING SETS, exact
median/corr/stddev aggregates, RANGE window frames, ordered string
aggregation, and correlated EXISTS with residual predicates. Same contract
as the first wave: DataFrame/SQL-first, aliased identically to the DuckDB
oracle, total ORDER BY, rounded floats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from event_store_spark.plans.finalsort import catalog_sort
from event_store_spark.plans.registry import register
from event_store_spark.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@register(
    "q38",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q38_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts by priority × status. Spark's pivot with an
    explicit value list avoids the extra distinct-values job (a full scan
    at 100 TB if left implicit)."""
    pivoted = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
    )
    return catalog_sort(
        pivoted.select(
            "o_orderpriority",
            *[F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c) for c in ("O", "F", "P")],
        ),
        "o_orderpriority",
    )


@register(
    "q39",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def q39_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither rollup nor cube) via Spark SQL."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_q39")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        FROM orders_q39
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        """
    )


@register(
    "q40",
    oracle="""
    SELECT ROUND(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
           ROUND(corr(o_totalprice, o_custkey), 2) AS price_cust_corr,
           ROUND(stddev_samp(o_totalprice), 2) AS price_stddev
    FROM orders
    """,
)
def q40_stat_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: exact interpolated median, Pearson corr,
    sample stddev. Exact median is a sort-based aggregate — at 100 TB the
    scale path is `approx_percentile` (documented trade-off; exact kept
    here for oracle comparability)."""
    return _t(spark, sf_dir, "orders").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("median_price"),
        F.round(F.corr("o_totalprice", "o_custkey"), 2).alias("price_cust_corr"),
        F.round(F.stddev_samp("o_totalprice"), 2).alias("price_stddev"),
    )


@register(
    "q41",
    oracle="""
    SELECT o_orderkey, o_custkey,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY epoch_ms(o_orderdate)
               RANGE BETWEEN 2592000000 PRECEDING AND CURRENT ROW), 2)
               AS trailing_30d_total
    FROM orders
    ORDER BY o_custkey, o_orderkey LIMIT 500
    """,
)
def q41_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame: trailing-30-day revenue per customer (value-based
    frame over epoch-ms, vs the ROWS frames of q17/q18)."""
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.unix_millis(F.col("o_orderdate").cast("timestamp_ltz")))
        .rangeBetween(-2_592_000_000, 0)
    )
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("trailing_30d_total", F.round(F.sum("o_totalprice").over(w), 2))
        .select("o_orderkey", "o_custkey", "trailing_30d_total")
        .orderBy("o_custkey", "o_orderkey")
        .limit(500)
    )


@register(
    "q42",
    oracle="""
    SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name ORDER BY r_name
    """,
)
def q42_ordered_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation — collect_list + array_sort + concat_ws
    (Spark's order-stable equivalent of string_agg ... ORDER BY)."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations")
        )
        .transform(lambda d: catalog_sort(d, "r_name"))
    )


@register(
    "q43",
    oracle="""
    SELECT c_custkey FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    ORDER BY c_custkey LIMIT 500
    """,
)
def q43_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS with a residual predicate — the filter applies to
    the subquery side *before* the semi join, so it prunes the shuffle."""
    customer = _t(spark, sf_dir, "customer")
    big_orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 300000)
        .select("o_custkey")
    )
    return (
        customer.join(big_orders, customer.c_custkey == big_orders.o_custkey, "left_semi")
        .select("c_custkey")
        .orderBy("c_custkey")
        .limit(500)
    )
