"""Event-timeline analytics + OLAP pivot, round-5 extension.

Operators a production event store gets queried with that the
inventory didn't yet cover:

- `pivot_line_status` — multi-measure pivot table (q38 covers the
  single-measure form; this pins the two-aggregate pivotfirst path).
- `concurrency_peak` — peak simultaneous activity via a SEGMENTED
  sweep-line: the classic "max concurrent sessions" query, implemented
  as the two-pass distributed prefix-sum (per-day local sweeps + an
  O(#days) carry pass) rather than one global sort, so it scales.
- `time_weighted_avg` — TWA of a sampled value over each stream's
  timeline (the signature irregular-time-series aggregate; plain AVG
  over-weights bursts).
- `gap_islands` — per-user longest consecutive-day activity streak
  (gaps-and-islands), the canonical retention/engagement metric.
- `ohlc_bars` — open/high/low/close candlestick resampling via
  min_by/max_by on a total-order key (no window, one agg).
- `ewma_value` — exponentially-weighted moving average as an identical
  left fold in both engines (bit-exact doubles, no banding).
- `rfm_scores` — recency/frequency/monetary segmentation against
  broadcast exact-quartile thresholds (no global ntile sort).
- `user_paths` — top first-3-event sequences per user (path mining).
- `quartiles_exact` — exact per-group quartiles, the counterpart of
  the GK sketch in `approx_price_quantiles`.

Reference parity: these consume the ordered event log the reference
exposes via subscribe (`ReactorKafkaEventStore.java:95-118`); the
analytics themselves are the consumer-side queries its users run.
Design rules as the rest of plans/: built-in Catalyst expressions only,
every query DuckDB-oracle-checked with identically aliased columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from event_store_spark.plans.finalsort import catalog_sort
from event_store_spark.plans.registry import register
from event_store_spark.tables import hot_table, load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hot_table(spark, sf_dir, "events")


# ------------------------------------------------------------------- pivot

@register(
    "pivot_line_status",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_f,
           ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_o,
           COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS cnt_f,
           COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS cnt_o
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def pivot_line_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot table: quantity and row count by returnflag × linestatus,
    linestatus spread across columns.

    Uses `groupBy().pivot(col, values)` WITH the explicit value list —
    without it Spark runs an extra distinct-collect job to discover the
    pivot domain, which at 100 TB is a full shuffle just to learn two
    constants. With the list, the pivot compiles to exactly the oracle's
    conditional aggregation: ONE hash aggregate with map-side partials,
    no extra pass."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    return catalog_sort(
        wide.select(
            "l_returnflag",
            F.col("F_qty").alias("qty_f"),
            F.col("O_qty").alias("qty_o"),
            F.coalesce(F.col("F_cnt"), F.lit(0)).alias("cnt_f"),
            F.coalesce(F.col("O_cnt"), F.lit(0)).alias("cnt_o"),
        ),
        "l_returnflag",
    )


# ------------------------------------------------------- sweep-line peak

#: active window an event contributes to (sweep-line interval length)
CONCURRENCY_WINDOW = "INTERVAL 5 MINUTES"


@register(
    "concurrency_peak",
    oracle="""
    WITH pts AS (
        SELECT event_type, ts AS t, 1 AS delta FROM events
        UNION ALL
        SELECT event_type, ts + INTERVAL 5 MINUTE AS t, -1 AS delta FROM events),
    run AS (
        SELECT event_type,
               SUM(delta) OVER (
                   PARTITION BY event_type ORDER BY t, delta
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        FROM pts)
    SELECT event_type, CAST(MAX(c) AS BIGINT) AS peak
    FROM run GROUP BY event_type ORDER BY event_type
    """,
)
def concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak number of simultaneously-active events per type, where each
    event is active for 5 minutes after its timestamp — the classic
    max-concurrent-sessions sweep line (+1 at start, −1 at end, running
    sum, max). Ends sort before starts at the same instant (delta asc),
    making the interval half-open.

    The oracle's single global running sum per type is SEQUENTIAL — one
    partition per event_type would sort the whole 100 TB timeline on 5
    keys. The engine instead runs the distributed two-pass prefix-sum:

    1. per (type, day): local sweep — running sum within the day's
       points, keeping the day's max and its net ±1 balance. Days are
       sound segments because a running sum is a prefix sum: an
       interval crossing midnight just contributes its −1 point to the
       next day's segment.
    2. per type: carry-in offset = prefix sum of day nets over the
       O(#days) day table (a window over days, not rows), then
       peak = max(carry + local_max).

    Within a tie-group of identical (t, delta) sort keys the running
    sum's intermediate values depend on intra-group order, but the
    group's MAX is order-invariant (all deltas in the group are equal,
    so the extremum sits at the group boundary) — the MAX aggregate
    both engines take makes the result deterministic."""
    ev = _events(spark, sf_dir).select("event_type", "ts")
    starts = ev.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("delta")
    )
    ends = ev.select(
        "event_type",
        (F.col("ts") + F.expr(CONCURRENCY_WINDOW)).alias("t"),
        F.lit(-1).alias("delta"),
    )
    pts = starts.unionAll(ends).withColumn("day", F.to_date("t"))

    w_day = (
        W.partitionBy("event_type", "day")
        .orderBy("t", "delta")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = pts.withColumn("run", F.sum("delta").over(w_day))
    day_stats = local.groupBy("event_type", "day").agg(
        F.max("run").alias("local_max"), F.sum("delta").alias("net")
    )
    w_type = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return catalog_sort(
        day_stats.withColumn(
            "carry", F.coalesce(F.sum("net").over(w_type), F.lit(0))
        )
        .groupBy("event_type")
        .agg(F.max(F.col("carry") + F.col("local_max")).alias("peak")),
        "event_type",
    )


# --------------------------------------------------- time-weighted average

@register(
    "time_weighted_avg",
    oracle="""
    WITH seg AS (
        SELECT event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               epoch_us(LEAD(ts) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id))
                   - epoch_us(ts) AS dt
        FROM events)
    SELECT event_type,
           CAST(SUM(cents * dt) AS DOUBLE)
               / CAST(SUM(dt) AS DOUBLE) / 100.0 AS twa
    FROM seg WHERE dt IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of `value` per event_type: each observation
    is held until the next one, so its weight is the gap to the next
    event (the irregular-time-series aggregate; a plain AVG over-weights
    bursts of rapid-fire events). The last observation of a stream has
    no holding interval and is excluded.

    Determinism discipline (as `event_rate_anomalies`): both the
    weights (integer microsecond gaps) and the values (exact cents)
    are integers, summed as DECIMAL(38,0) / HUGEINT — no FP
    accumulation order anywhere. The one double op is the final
    division of two exactly-represented integers, which IEEE 754 makes
    bit-identical across engines.

    Plan: one shuffle on event_type for the LEAD window, then the hash
    agg reuses that partitioning — at 100 TB the 5-key partitioning is
    the skew concern; the fix is the same day-segmented carry pass as
    `concurrency_peak` (LEAD needs only each segment's first row
    carried to the previous segment)."""
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    seg = _events(spark, sf_dir).select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")
        ).alias("dt"),
    )
    dec = "decimal(38,0)"
    return catalog_sort(
        seg.where(F.col("dt").isNotNull())
        .groupBy("event_type")
        .agg(
            (
                F.sum((F.col("cents") * F.col("dt")).cast(dec)).cast("double")
                / F.sum(F.col("dt").cast(dec)).cast("double")
                / F.lit(100.0)
            ).alias("twa")
        ),
        "event_type",
    )


# ------------------------------------------------------- gaps and islands

@register(
    "gap_islands",
    oracle="""
    WITH d AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    isl AS (
        SELECT user_id, day,
               day - CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor
        FROM d),
    runs AS (
        SELECT user_id, anchor, COUNT(*) AS len
        FROM isl GROUP BY user_id, anchor)
    SELECT user_id,
           MAX(len) AS longest_streak,
           COUNT(*) AS n_streaks,
           CAST(SUM(len) AS BIGINT) AS active_days
    FROM runs GROUP BY user_id
    ORDER BY longest_streak DESC, user_id LIMIT 100
    """,
)
def gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per user, the longest run of consecutive
    calendar days with at least one event, plus streak count and total
    active days — the canonical engagement-streak query.

    The island anchor is `day − row_number(day)`: constant exactly
    within a consecutive run. All arithmetic is integer dates/counts —
    hash-exact. Plan: distinct (user, day) collapses the event volume
    to at most users × days BEFORE the window (at 100 TB this is the
    step that matters — the window and both downstream hash aggs run
    over the collapsed table, so the second shuffle, on user_id alone,
    moves only distinct user-days). Top-100 by TakeOrdered — no global
    sort materialization."""
    d = (
        _events(spark, sf_dir)
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    w = W.partitionBy("user_id").orderBy("day")
    runs = (
        d.withColumn(
            "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
        )
        .groupBy("user_id", "anchor")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    return (
        runs.groupBy("user_id")
        .agg(
            F.max("len").alias("longest_streak"),
            F.count(F.lit(1)).alias("n_streaks"),
            F.sum("len").alias("active_days"),
        )
        .orderBy(F.col("longest_streak").desc(), "user_id")
        .limit(100)
    )


# ------------------------------------------------------------- OHLC bars

@register(
    "ohlc_bars",
    oracle="""
    WITH k AS (
        SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               value,
               lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                   || lpad(CAST(event_id AS VARCHAR), 12, '0') AS sk
        FROM events)
    SELECT event_type, day,
           arg_min(value, sk) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, sk) AS close,
           COUNT(*) AS volume,
           ROUND(SUM(value), 2) AS turnover
    FROM k GROUP BY event_type, day ORDER BY event_type, day
    """,
)
def ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick resampling: per (event_type, day) the open (first
    value), high, low, close (last value), volume and turnover — the
    canonical time-series downsampling every monitoring/market store
    ships as a built-in rollup.

    First/last are argmin/argmax over a FIXED-WIDTH zero-padded
    (epoch_us, event_id) string key, so lexicographic order equals
    numeric order and ties are impossible (event_id is unique) — the
    result is engine-independent without any window or sort: ONE hash
    aggregate with map-side partials, no shuffle beyond it. At 100 TB
    this is the shape you want — min_by/max_by fold in the combiner,
    where a first_value window would sort every group."""
    ev = _events(spark, sf_dir)
    sk = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        ev.select(
            "event_type",
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
            "value",
            sk.alias("sk"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.min_by("value", "sk").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "sk").alias("close"),
            F.count(F.lit(1)).alias("volume"),
            F.round(F.sum("value"), 2).alias("turnover"),
        )
        .transform(lambda d: catalog_sort(d, "event_type", "day"))
    )


# ----------------------------------------------------------------- EWMA

@register(
    "ewma_value",
    oracle="""
    SELECT event_type,
           list_reduce(list(CAST(value AS DOUBLE) ORDER BY ts, event_id),
                       (acc, x) -> 0.1 * x + 0.9 * acc) AS ewma,
           COUNT(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α = 0.1) of `value` per
    event_type, folded over the stream in timestamp order — the
    smoothing step behind every alerting threshold.

    EWMA is inherently sequential (e_i = αx_i + (1−α)e_{i−1}), so both
    engines run the IDENTICAL left fold — Spark as a Catalyst
    `aggregate` over the chronologically sorted value array, DuckDB as
    `list_reduce` over `list(... ORDER BY)` — seeded with the first
    element and applying `0.1*x + 0.9*acc` in the same order, giving
    bit-identical doubles with no banding.

    Scale posture: one shuffle on event_type, then collect_list holds
    ONE series per group in memory — the same bounded-series contract
    as `resample_ffill` (a series that doesn't fit one executor needs
    the segmented-carry form: per-segment folds + an O(#segments)
    recombination pass using ewma's affine composition)."""
    arr = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", F.col("value").alias("v")))
    )
    vals = F.transform(F.col("_vals"), lambda s: s["v"])
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(arr.alias("_vals"), F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            F.aggregate(
                F.slice(vals, 2, F.size(vals) - 1),
                F.element_at(vals, 1),
                lambda acc, x: F.lit(0.1) * x + F.lit(0.9) * acc,
            ).alias("ewma"),
            "n",
        )
        .transform(lambda d: catalog_sort(d, "event_type"))
    )


# ------------------------------------------------------------ RFM scores

@register(
    "rfm_scores",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               MAX(CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS r,
               COUNT(*) AS f,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS m
        FROM orders GROUP BY o_custkey),
    q AS (
        SELECT quantile_cont(r, [0.25, 0.5, 0.75]) AS rq,
               quantile_cont(f, [0.25, 0.5, 0.75]) AS fq,
               quantile_cont(m, [0.25, 0.5, 0.75]) AS mq
        FROM cust)
    SELECT CAST(1 + (r > rq[1])::INT + (r > rq[2])::INT + (r > rq[3])::INT
                AS INT) || '-' ||
           CAST(1 + (f > fq[1])::INT + (f > fq[2])::INT + (f > fq[3])::INT
                AS INT) || '-' ||
           CAST(1 + (m > mq[1])::INT + (m > mq[2])::INT + (m > mq[3])::INT
                AS INT) AS segment,
           COUNT(*) AS n_customers
    FROM cust, q
    GROUP BY segment ORDER BY n_customers DESC, segment LIMIT 25
    """,
)
def rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: each customer scored 1–4 on Recency (last order
    day), Frequency (order count) and Monetary (lifetime cents), top
    segments by population — the canonical CRM cohorting query.

    Scored against exact QUARTILE THRESHOLDS broadcast to every row —
    NOT a global ntile window, which at 100 TB is a single-reducer sort
    over all customers. Quartile fracs are dyadic (0.25/0.5/0.75), so
    the interpolation `a + (b−a)·f` over integer metrics is EXACT in
    double for both engines — no FP divergence, no banding. Metrics are
    integers (epoch days, counts, cents from per-order rounding).

    Plan: one hash agg on o_custkey → one O(1)-row percentile aggregate
    riding back as a broadcast → map-side scoring → one agg on the 64
    possible segments."""
    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.max(F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))).alias("r"),
        F.count(F.lit(1)).alias("f"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("m"),
    )
    q = cust.agg(
        F.expr("percentile(r, array(0.25D, 0.5D, 0.75D))").alias("rq"),
        F.expr("percentile(f, array(0.25D, 0.5D, 0.75D))").alias("fq"),
        F.expr("percentile(m, array(0.25D, 0.5D, 0.75D))").alias("mq"),
    )

    def score(col: str, th: str):
        s = F.lit(1)
        for i in (1, 2, 3):
            s = s + (F.col(col) > F.element_at(F.col(th), i)).cast("int")
        return s.cast("int").cast("string")

    return (
        cust.crossJoin(F.broadcast(q))
        .select(
            F.concat_ws(
                "-", score("r", "rq"), score("f", "fq"), score("m", "mq")
            ).alias("segment")
        )
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.col("n_customers").desc(), "segment")
        .limit(25)
    )


# ------------------------------------------------------------ user paths

@register(
    "user_paths",
    oracle="""
    WITH r AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events),
    p AS (
        SELECT user_id,
               string_agg(event_type, '->' ORDER BY rn) AS path,
               COUNT(*) AS n
        FROM r WHERE rn <= 3 GROUP BY user_id)
    SELECT path, COUNT(*) AS n_users
    FROM p WHERE n = 3
    GROUP BY path ORDER BY n_users DESC, path LIMIT 10
    """,
)
def user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 10 opening event sequences: each user's first three events
    (by timestamp, event_id tie-break) joined into a path string,
    ranked by how many users share it — entry-path mining, the first
    question asked of any product event log.

    Plan: one shuffle on user_id for the row_number window, rows
    beyond rank 3 dropped BEFORE the per-user aggregation (the
    filter-early step that matters at 100 TB — the path agg sees at
    most 3 rows per user), paths counted in one hash agg over ≤
    |event_types|³ keys, top-10 via TakeOrdered."""
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    first3 = ev.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3)
    paths = (
        first3.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", F.col("event_type").alias("et")))
                    ),
                    lambda s: s["et"],
                ),
                "->",
            ).alias("path"),
            F.count(F.lit(1)).alias("n"),
        )
        .where(F.col("n") == 3)
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(10)
    )


# ----------------------------------------------------- exact quartiles

@register(
    "quartiles_exact",
    oracle="""
    WITH c AS (
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events)
    SELECT event_type,
           quantile_cont(cents, 0.25) / 100.0 AS q1,
           quantile_cont(cents, 0.5) / 100.0 AS median,
           quantile_cont(cents, 0.75) / 100.0 AS q3,
           COUNT(*) AS n
    FROM c GROUP BY event_type ORDER BY event_type
    """,
)
def quartiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type quartiles of `value` — the exact counterpart of
    `approx_price_quantiles` (GK sketch): small-cardinality group-by
    where exact sort-based percentiles are affordable, sketches where
    they aren't.

    Determinism: quartile fracs are dyadic, inputs are integer cents,
    so linear interpolation is exact in double for both engines (same
    argument as `rfm_scores`); the final /100 is one IEEE division of
    identical doubles. Spark's `percentile` aggregates per group —
    no window, one shuffle on event_type."""
    ev = _events(spark, sf_dir).select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    return catalog_sort(
        ev.groupBy("event_type")
        .agg(
            (F.expr("percentile(cents, 0.25D)") / 100.0).alias("q1"),
            (F.expr("percentile(cents, 0.5D)") / 100.0).alias("median"),
            (F.expr("percentile(cents, 0.75D)") / 100.0).alias("q3"),
            F.count(F.lit(1)).alias("n"),
        ),
        "event_type",
    )
