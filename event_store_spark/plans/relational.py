"""Relational query inventory Q1–Q29 (SURVEY.md §2.9), DataFrame-first.

Each query is expressed declaratively so Catalyst supplies predicate pushdown,
column pruning, broadcast-join selection, partial aggregation and AQE for
free. Scale notes (100 TB posture):

- dimension joins (`nation`, `region`) are explicitly `broadcast()` — they are
  fixed-size regardless of scale factor;
- fact-fact joins (`lineitem ⋈ part`, `customer ⋈ orders`) shuffle on their
  equi-keys and benefit from AQE skew handling; no global sort happens before
  aggregation;
- every query ends in a total ORDER BY only because the correctness contract
  requires deterministic output — `ORDER BY ... LIMIT k` compiles to
  `TakeOrderedAndProject` (per-partition top-k + merge), NOT a global sort;
- float outputs are ROUND(x, 2) and timestamps are projected to epoch
  integers so the DuckDB-oracle hash comparison is representation-stable.

The reference (kagetech/event-store) has no relational surface of its own —
this inventory is the analytics layer declared in SURVEY.md §2.9 over the
driver fixtures, with join/agg/window semantics standard ANSI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from event_store_spark.plans.finalsort import catalog_sort
from event_store_spark.plans.registry import register
from event_store_spark.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------- scans

@register(
    "q1",
    oracle="SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
)
def q1_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan + projection. Column pruning reaches the parquet scan."""
    return _t(spark, sf_dir, "region").select("r_regionkey", "r_name").orderBy("r_regionkey")


@register(
    "q2",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_price
    FROM orders
    WHERE o_totalprice > 100000 AND o_orderstatus = 'O'
    ORDER BY o_orderkey LIMIT 100
    """,
)
def q2_filter_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + limit; both predicates push down to the parquet scan."""
    return (
        _t(spark, sf_dir, "orders")
        .where((F.col("o_totalprice") > 100000) & (F.col("o_orderstatus") == "O"))
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_price"))
        .orderBy("o_orderkey")
        .limit(100)
    )


@register(
    "q3",
    oracle="""
    SELECT COUNT(*) AS cnt FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01' AND l_shipdate < TIMESTAMP '1995-01-01'
      AND l_returnflag IN ('A', 'R')
    """,
)
def q3_date_in_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-range + IN predicates feeding a global count (partial agg, no sort)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
            & F.col("l_returnflag").isin("A", "R")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ---------------------------------------------------------------- joins

@register(
    "q4",
    oracle="""
    SELECT r_name, COUNT(*) AS num_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name ORDER BY r_name
    """,
)
def q4_three_way_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way equi join; nation/region are broadcast (fixed-size dims)."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("num_customers"))
        .transform(lambda d: catalog_sort(d, "r_name"))
    )


@register(
    "q5",
    oracle="""
    SELECT c_custkey, COUNT(o_orderkey) AS order_count
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey ORDER BY c_custkey LIMIT 500
    """,
)
def q5_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping zero-order customers (COUNT of nullable key)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_count"))
        .orderBy("c_custkey")
        .limit(500)
    )


@register(
    "q6",
    oracle="""
    SELECT c_custkey FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey LIMIT 500
    """,
)
def q6_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a left-semi join — no row multiplication, shuffle on key only."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey")
        .orderBy("c_custkey")
        .limit(500)
    )


@register(
    "q7",
    oracle="""
    SELECT p_partkey FROM part
    WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
    ORDER BY p_partkey LIMIT 500
    """,
)
def q7_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as a left-anti join.

    The anti-join's build side is pre-distincted: map-side partial
    distinct collapses the lineitem fact (many rows per part) to at most
    |parts| keys BEFORE the exchange, and the collapsed side is small
    enough for AQE to flip the anti-join to broadcast — the raw-fact
    form shuffled every lineitem row (measured 2.5 s vs 1.6 s at the 10×
    corpus). Same trick as vocab_topk's two-stage distinct."""
    part = _t(spark, sf_dir, "part")
    keys = _t(spark, sf_dir, "lineitem").select("l_partkey").distinct()
    return (
        part.join(keys, part.p_partkey == keys.l_partkey, "left_anti")
        .select("p_partkey")
        .orderBy("p_partkey")
        .limit(500)
    )


@register(
    "q8",
    oracle="""
    SELECT COUNT(*) AS cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey AND l_quantity > p_size
    """,
)
def q8_theta_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi join with a theta residual — hash join on the equi key, residual
    evaluated post-probe (stays in whole-stage codegen)."""
    lineitem = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_size")
    return (
        lineitem.join(
            part,
            (lineitem.l_partkey == part.p_partkey) & (lineitem.l_quantity > part.p_size),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "q9",
    oracle="""
    SELECT event_id, asof_orderkey FROM (
        SELECT e.event_id, o.o_orderkey AS asof_orderkey,
               ROW_NUMBER() OVER (
                   PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM events e
        JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    ) WHERE rn = 1
    ORDER BY event_id LIMIT 500
    """,
)
def q9_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (event enrichment): for each event, the latest order of the
    same user with ``o_orderdate <= ts``, via equi join on user + window top-1.

    (SURVEY §2.9 declared the mirror direction order→event, but the fixture
    date ranges make that join empty — orders end 2001, events start 2024 —
    so the as-of direction is flipped to keep the operator non-vacuous.)

    Scale: union+carry form (see `plans/temporal.py`) — tag both sides,
    union, and carry the latest order forward with ``last(ignorenulls)``
    over a user-partitioned time window. ONE shuffle over |events|+|orders|
    rows; the join+row_number alternative materializes every (event, prior
    order) candidate pair first — |events| × avg-history, ~10× slower at
    sf0.1 and unboundedly worse as history grows. Inner-join semantics =
    drop events whose carried order is NULL.
    """
    events = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    right = orders.select(
        F.col("o_custkey").alias("user_id"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp_ltz")).alias("t_us"),
        F.lit(1).alias("is_r"),
        "o_orderkey",
        F.lit(None).cast("bigint").alias("event_id"),
    )
    left = events.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("t_us"),
        F.lit(0).alias("is_r"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
        "event_id",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("t_us").asc(), F.col("is_r").desc(), F.col("o_orderkey").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        right.unionByName(left)
        .select(
            "event_id",
            "is_r",
            F.last("o_orderkey", ignorenulls=True).over(w).alias("asof_orderkey"),
        )
        .where((F.col("is_r") == 0) & F.col("asof_orderkey").isNotNull())
        .select("event_id", "asof_orderkey")
        .orderBy("event_id")
        .limit(500)
    )


# ---------------------------------------------------------------- aggregations

@register(
    "q10",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(AVG(l_quantity), 2) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q10_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary — hash aggregate with map-side partials."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .transform(lambda d: catalog_sort(d, "l_returnflag", "l_linestatus"))
    )


@register(
    "q11",
    oracle="SELECT COUNT(DISTINCT o_custkey) AS cnt FROM orders",
)
def q11_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate — expands to a two-stage partial-distinct plan."""
    return _t(spark, sf_dir, "orders").agg(F.countDistinct("o_custkey").alias("cnt"))


@register(
    "q12",
    oracle="""
    SELECT r_name, n_name, ROUND(SUM(o_totalprice), 2) AS revenue
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    JOIN orders ON o_custkey = c_custkey
    GROUP BY ROLLUP(r_name, n_name)
    ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
    """,
)
def q12_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over a 4-way join; dims broadcast, facts shuffle once on custkey."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    orders = _t(spark, sf_dir, "orders")
    joined = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(orders, orders.o_custkey == customer.c_custkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .transform(lambda d: catalog_sort(
            d,
            F.col("r_name").asc_nulls_first(),
            F.col("n_name").asc_nulls_first(),
        ))
    )


@register(
    "q13",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def q13_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregate (grouping-sets expansion)."""
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(lambda d: catalog_sort(
            d,
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        ))
    )


@register(
    "q14",
    oracle="""
    SELECT n_name, COUNT(*) AS num_customers
    FROM nation JOIN customer ON c_nationkey = n_nationkey
    GROUP BY n_name HAVING COUNT(*) > 20
    ORDER BY n_name
    """,
)
def q14_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter)."""
    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("num_customers"))
        .where(F.col("num_customers") > 20)
        .transform(lambda d: catalog_sort(d, "n_name"))
    )


# ---------------------------------------------------------------- windows

@register(
    "q15",
    oracle="""
    SELECT n_name, rn, c_custkey, ROUND(c_acctbal, 2) AS acctbal FROM (
        SELECT n_name, c_custkey, c_acctbal,
               ROW_NUMBER() OVER (
                   PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) AS rn
        FROM customer JOIN nation ON c_nationkey = n_nationkey
    ) WHERE rn <= 3
    ORDER BY n_name, rn
    """,
)
def q15_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by balance per nation via ROW_NUMBER."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    w = W.partitionBy("n_name").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("n_name", "rn", "c_custkey", F.round("c_acctbal", 2).alias("acctbal"))
        # repartition(1): keeps the corpus-sized ranking window at width
        .orderBy("n_name", "rn")
    )


@register(
    "q16",
    oracle="""
    SELECT o_orderkey, o_custkey, ROUND(prev_price, 2) AS prev_price FROM (
        SELECT o_orderkey, o_custkey,
               LAG(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price
        FROM orders
    )
    ORDER BY o_custkey, o_orderkey LIMIT 500
    """,
)
def q16_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG analytic over per-customer order history."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("prev_price", F.round(F.lag("o_totalprice").over(w), 2))
        .select("o_orderkey", "o_custkey", "prev_price")
        .orderBy("o_custkey", "o_orderkey")
        .limit(500)
    )


@register(
    "q17",
    oracle="""
    SELECT o_orderkey, o_custkey,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    ORDER BY o_custkey, o_orderkey LIMIT 500
    """,
)
def q17_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum with an explicit ROWS frame."""
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("running_total", F.round(F.sum("o_totalprice").over(w), 2))
        .select("o_orderkey", "o_custkey", "running_total")
        .orderBy("o_custkey", "o_orderkey")
        .limit(500)
    )


@register(
    "q18",
    oracle="""
    SELECT event_id, user_id,
           ROUND(AVG(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS moving_avg
    FROM events
    ORDER BY user_id, event_id LIMIT 500
    """,
)
def q18_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-row sliding average per user over the event stream."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, W.currentRow)
    return (
        _t(spark, sf_dir, "events")
        .withColumn("moving_avg", F.round(F.avg("value").over(w), 2))
        .select("event_id", "user_id", "moving_avg")
        .orderBy("user_id", "event_id")
        .limit(500)
    )


@register(
    "q19",
    oracle="""
    SELECT tile, COUNT(*) AS cnt FROM (
        SELECT NTILE(10) OVER (ORDER BY p_retailprice, p_partkey) AS tile FROM part
    ) GROUP BY tile ORDER BY tile
    """,
)
def q19_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(10) distribution; deterministic via p_partkey tie-break.

    Note the un-partitioned window is a single-reducer global sort — fine for
    a distribution sketch over `part`; at 100 TB use `approxQuantile`/
    `percentile_approx` instead (documented alternative, same shape).
    """
    w = W.orderBy("p_retailprice", "p_partkey")
    return (
        _t(spark, sf_dir, "part")
        .select(F.ntile(10).over(w).alias("tile"))
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("tile")
    )


# ---------------------------------------------------------------- sorts / top-k

@register(
    "q20",
    oracle="""
    SELECT o_orderkey, CAST(epoch_ms(o_orderdate) AS BIGINT) AS o_date_ms,
           ROUND(o_totalprice, 2) AS o_price
    FROM orders
    ORDER BY o_date_ms DESC, o_orderkey LIMIT 100
    """,
)
def q20_multikey_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort + limit → TakeOrderedAndProject (no global sort)."""
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.unix_millis(F.col("o_orderdate").cast("timestamp_ltz")).alias("o_date_ms"),
            F.round("o_totalprice", 2).alias("o_price"),
        )
        .orderBy(F.col("o_date_ms").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@register(
    "q21",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_price
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q21_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k — per-partition heaps merged on the driver."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_price"))
        .limit(10)
    )


# ---------------------------------------------------------------- set ops

@register(
    "q22",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    ORDER BY nationkey
    """,
)
def q22_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION DISTINCT of customer/supplier nation keys."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return catalog_sort(c.union(s).distinct(), "nationkey")


@register(
    "q23",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    ORDER BY nationkey
    """,
)
def q23_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return catalog_sort(c.intersect(s), "nationkey")


@register(
    "q24",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    ORDER BY nationkey
    """,
)
def q24_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return catalog_sort(c.subtract(s), "nationkey")


# ---------------------------------------------------------------- scalar functions

@register(
    "q25",
    oracle="""
    SELECT p_partkey, UPPER(p_brand) AS brand_upper, SUBSTR(p_name, 1, 8) AS name_prefix,
           CAST(LENGTH(p_type) AS INT) AS type_len,
           CASE WHEN p_name LIKE '%green%' THEN 1 ELSE 0 END AS has_green
    FROM part ORDER BY p_partkey LIMIT 500
    """,
)
def q25_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar functions — all JVM-side, inside whole-stage codegen."""
    return (
        _t(spark, sf_dir, "part")
        .select(
            "p_partkey",
            F.upper("p_brand").alias("brand_upper"),
            F.substring("p_name", 1, 8).alias("name_prefix"),
            F.length("p_type").alias("type_len"),
            F.when(F.col("p_name").like("%green%"), 1).otherwise(0).alias("has_green"),
        )
        .orderBy("p_partkey")
        .limit(500)
    )


@register(
    "q26",
    oracle="""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
           CAST(epoch_ms(date_trunc('month', o_orderdate)) AS BIGINT) AS o_month_ms,
           COUNT(*) AS cnt
    FROM orders GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q26_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date extraction + truncation aggregates (epoch-projected for hashing)."""
    return (
        _t(spark, sf_dir, "orders")
        .select(
            F.year("o_orderdate").alias("o_year"),
            F.unix_millis(F.date_trunc("month", F.col("o_orderdate"))).alias("o_month_ms"),
        )
        .groupBy("o_year", "o_month_ms")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(lambda d: catalog_sort(d, "o_year", "o_month_ms"))
    )


@register(
    "q27",
    oracle="""
    SELECT ROUND(AVG(ABS(l_extendedprice - l_quantity * 1000)), 2) AS avg_abs_diff,
           CAST(SUM(MOD(l_linenumber, 3)) AS BIGINT) AS sum_mod,
           CAST(SUM(CAST(FLOOR(l_discount * 100) AS BIGINT)) AS BIGINT) AS sum_floor,
           CAST(SUM(CAST(CEIL(l_tax * 100) AS BIGINT)) AS BIGINT) AS sum_ceil
    FROM lineitem
    """,
)
def q27_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar functions under aggregation (ABS/MOD/FLOOR/CEIL)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.avg(F.abs(F.col("l_extendedprice") - F.col("l_quantity") * 1000)), 2).alias(
            "avg_abs_diff"
        ),
        F.sum(F.col("l_linenumber") % 3).cast("bigint").alias("sum_mod"),
        F.sum(F.floor(F.col("l_discount") * 100)).cast("bigint").alias("sum_floor"),
        F.sum(F.ceil(F.col("l_tax") * 100)).cast("bigint").alias("sum_ceil"),
    )


@register(
    "q28",
    oracle="""
    SELECT json_extract_string(props, '$.k') AS k_value, COUNT(*) AS cnt
    FROM events GROUP BY k_value ORDER BY k_value NULLS FIRST
    """,
)
def q28_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the events `props` payload (string JSON)."""
    return (
        _t(spark, sf_dir, "events")
        .select(F.get_json_object("props", "$.k").alias("k_value"))
        .groupBy("k_value")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(lambda d: catalog_sort(d, F.col("k_value").asc_nulls_first()))
    )


@register(
    "q29",
    oracle="""
    SELECT label, COUNT(*) AS cnt,
           ROUND(AVG(CAST(len(embedding) AS DOUBLE)), 2) AS avg_len
    FROM embeddings GROUP BY label ORDER BY label
    """,
)
def q29_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-typed column handling: per-label counts + average vector length."""
    return (
        _t(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg(F.size("embedding").cast("double")), 2).alias("avg_len"),
        )
        .transform(lambda d: catalog_sort(d, "label"))
    )
