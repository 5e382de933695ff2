"""Scale-safe exact global rank: q19/q50 without the single-partition window.

q19 (NTILE) and q50 (percent_rank/cume_dist) are exact distribution
analytics over a tie-broken total order.  Their straightforward plans use an
un-partitioned window, which Spark executes on ONE reducer
(``WindowExec: No Partition Defined``) — correct, but a scale-killer at
100 TB.  These variants produce byte-identical results with a two-pass plan:

1. **Band** every row by a monotone function of the leading sort key
   (``floor(p_retailprice)`` — band order == global order).
2. **Count** rows per band: one tiny hash aggregation, collected to the
   driver (one row per band), prefix-summed into per-band rank offsets.
3. **Rank locally** inside each band (window PARTITION BY band — hundreds of
   parallel window partitions, never one) and add the band's offset.

The banding function is deterministic (no RangePartitioner sampling), so the
offset pass and the rank pass always agree — no caching required for
consistency.  The driver-side state is O(#bands), independent of row count.

Skew note: band width trades parallelism vs balance.  ``floor(price)`` gives
~1 100 bands over part's price domain; at a different domain pass a coarser/
finer expression.  A pathological single-value key degrades to one band —
the same failure mode as any range partitioner on a constant key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from event_store_spark.plans.finalsort import catalog_sort
from event_store_spark.plans.registry import register
from event_store_spark.tables import load_table


def global_rank(
    df: DataFrame,
    band: Column,
    order_cols: list[str],
    rank_col: str = "_rank",
) -> tuple[DataFrame, int]:
    """Exact 1-based global rank over a strict total order, two-pass.

    ``band`` must be monotone non-decreasing in the leading sort key so that
    band order equals global order.  Returns ``(df + rank_col, total_rows)``.

    NULL band values (a NULL leading sort key) collapse into a dedicated
    FIRST band — matching the ascending window's default NULLS FIRST — via
    a long-min sentinel; previously any NULL crashed the driver-side band
    sort.
    """
    banded = df.withColumn(
        "_band", F.coalesce(band.cast("long"), F.lit(-(2**63)))
    )
    counts = {
        row["_band"]: row["cnt"]
        for row in banded.groupBy("_band").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    total = sum(counts.values())
    bands = sorted(counts)
    offsets: list[int] = []
    acc = 0
    for b in bands:
        offsets.append(acc)
        acc += counts[b]
    # two ArrayType literals + array_position, NOT create_map of 2·#bands
    # scalar lits — #bands can be thousands and per-node literal trees
    # dominate Catalyst analysis (same lesson as plans/ivf.py). Beyond
    # ~100k bands, swap the literal lookup for a broadcast join against the
    # (band, offset) table.
    band_arr = F.lit([int(b) for b in bands])
    offset_arr = F.lit(offsets)
    w = W.partitionBy("_band").orderBy(*order_cols)
    ranked = banded.withColumn(
        rank_col,
        F.row_number().over(w)
        + F.element_at(offset_arr, F.array_position(band_arr, F.col("_band")).cast("int")),
    ).drop("_band")
    return ranked, total


def _part_ranked(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    part = load_table(spark, sf_dir, "part")
    return global_rank(part, F.floor("p_retailprice"), ["p_retailprice", "p_partkey"])


@register(
    "q19_scale",
    oracle="""
    SELECT tile, COUNT(*) AS cnt FROM (
        SELECT NTILE(10) OVER (ORDER BY p_retailprice, p_partkey) AS tile FROM part
    ) GROUP BY tile ORDER BY tile
    """,
)
def q19_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q19's NTILE(10) distribution via two-pass rank — no global window.

    NTILE arithmetic from the global rank: with n rows and k tiles the first
    ``n mod k`` tiles get ``n div k + 1`` rows, the rest ``n div k``.
    """
    ranked, n = _part_ranked(spark, sf_dir)
    k = 10
    q, rem = divmod(n, k)
    boundary = rem * (q + 1)  # last rank covered by the wider tiles
    r = F.col("_rank")
    tile = (
        F.when(r <= boundary, F.ceil(r / F.lit(q + 1)))
        # max(q,1): unreachable when q==0 (boundary==n covers every rank),
        # guarded anyway so ANSI mode never sees a divide-by-zero
        .otherwise(rem + F.ceil((r - boundary) / F.lit(max(q, 1))))
        .cast("int")
    )
    return (
        ranked.select(tile.alias("tile"))
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(lambda d: catalog_sort(d, "tile"))
    )


@register(
    "q50_scale",
    oracle="""
    SELECT p_partkey,
           ROUND(percent_rank() OVER w, 4) AS pr,
           ROUND(cume_dist() OVER w, 5) AS cd
    FROM part
    WINDOW w AS (ORDER BY p_retailprice, p_partkey)
    ORDER BY p_partkey LIMIT 200
    """,
)
def q50_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q50's percent_rank/cume_dist via two-pass rank — no global window.

    The (p_retailprice, p_partkey) order is strict (no ties), so
    percent_rank == (rank-1)/(n-1) and cume_dist == rank/n exactly.
    Rounding precisions match q50 (see its boundary note).
    """
    ranked, n = _part_ranked(spark, sf_dir)
    r = F.col("_rank")
    # max(n-1, 1): percent_rank of a single-row table is 0 (rank-1 == 0, so
    # the divisor is irrelevant) — without the guard n==1 divides by zero
    # (null pr in default mode, an error under ANSI), mirroring q19_scale's
    # max(q, 1) guard
    return (
        ranked.select(
            "p_partkey",
            F.round((r - F.lit(1)) / F.lit(max(n - 1, 1)), 4).alias("pr"),
            F.round(r / F.lit(n), 5).alias("cd"),
        )
        .orderBy("p_partkey")
        .limit(200)
    )
