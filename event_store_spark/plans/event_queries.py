"""Event-store semantics, batch-checkable (SURVEY.md §2.9 Q34–Q37).

These re-express the reference's event-log operators as relational plans over
the `events` fixture, with ``(ts, event_id)`` standing in for the reference's
``(lsn, id)`` replay cursor (semantics per
`tech.kage.event.replicator/.../EventReplicatorWorker.java:66-72` — ordered
replay + row-value keyset resume).

Scale posture: replay order comes from `ORDER BY ... LIMIT` (top-k merge, not
a global sort); the keyset predicate is a pushed-down parquet filter, which at
100 TB means file skipping via min/max stats on a ts-sorted layout — the same
reason the reference indexes `lsn`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from event_store_spark.plans.finalsort import catalog_sort
from event_store_spark.plans.registry import register
from event_store_spark.tables import hot_table, load_table

# fixed replay cursor for Q35 (mid-range of the 2024-01 event window)
CURSOR_TS = "2024-01-10 00:00:00"
CURSOR_ID = 5000


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pinned hot projection (tables.hot_table): these operators re-scan
    # events several times per plan, and at sf0.1 the repeated parquet
    # materialization IS the job floor (VERDICT r10 #4)
    return hot_table(spark, sf_dir, "events")


@register(
    "q34",
    oracle="""
    SELECT event_id FROM events ORDER BY ts, event_id LIMIT 1000
    """,
)
def q34_ordered_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-order replay: first 1000 events in (ts, event_id) order.

    Mirrors `EventReplicatorWorker.java:66-72` `ORDER BY lsn, id`.
    """
    return (
        _events(spark, sf_dir)
        .select("event_id", "ts")
        .orderBy("ts", "event_id")
        .select("event_id")
        .limit(1000)
    )


@register(
    "q35",
    oracle=f"""
    SELECT event_id FROM events
    WHERE (ts, event_id) > (TIMESTAMP '{CURSOR_TS}', {CURSOR_ID})
    ORDER BY ts, event_id LIMIT 1000
    """,
)
def q35_cursor_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-value keyset resume: replay strictly after cursor (ts0, id0).

    Mirrors the replication-eligibility predicate
    `WHERE (lsn, id) > (:lsn, :id)` (`EventReplicatorWorker.java:66-72`).
    Spark has no row-value comparison, so it is expanded to the equivalent
    disjunction — which Catalyst still pushes to the scan.
    """
    ts0 = F.lit(CURSOR_TS).cast("timestamp")
    ev = _events(spark, sf_dir)
    return (
        ev.where(
            (F.col("ts") > ts0)
            | ((F.col("ts") == ts0) & (F.col("event_id") > CURSOR_ID))
        )
        .select("event_id", "ts")
        .orderBy("ts", "event_id")
        .select("event_id")
        .limit(1000)
    )


@register(
    "q36",
    oracle="""
    SELECT CAST(epoch_ms(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hour_ms,
           event_type, COUNT(*) AS cnt, ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q36_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window batch analog: hourly count + sum per event type.

    The streaming twin (`window(ts, '1 hour')` + watermark) is asserted
    against this plan in tests (SURVEY §2.9 S-B).
    """
    return (
        _events(spark, sf_dir)
        .groupBy(
            F.unix_millis(F.date_trunc("hour", F.col("ts"))).alias("hour_ms"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .transform(lambda d: catalog_sort(d, "hour_ms", "event_type"))
    )


@register(
    "q37",
    oracle="""
    WITH flagged AS (
        SELECT user_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(CAST(ts AS TIMESTAMP))
                            - epoch_us(CAST(LAG(ts) OVER w AS TIMESTAMP)) > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS session_count
    FROM flagged GROUP BY user_id ORDER BY user_id LIMIT 500
    """,
)
def q37_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization batch analog: 30-minute-gap sessions per user via
    LAG + gap-flag sum. The streaming twin uses `session_window` (S-B)."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    return (
        _events(spark, sf_dir)
        .withColumn(
            "new_session",
            F.when(F.lag("ts").over(w).isNull() | (gap_us > 1_800_000_000), 1).otherwise(0),
        )
        .groupBy("user_id")
        .agg(F.sum("new_session").cast("bigint").alias("session_count"))
        .orderBy("user_id")
        .limit(500)
    )


@register(
    "q56",
    oracle="""
    WITH h AS (SELECT CAST(epoch_ms(date_trunc('hour', CAST(ts AS TIMESTAMP)))
                           AS BIGINT) AS hr, value
               FROM events),
    x AS (SELECT hr AS win_start_ms, value FROM h
          UNION ALL
          SELECT hr - 3600000, value FROM h)
    SELECT win_start_ms, COUNT(*) AS cnt, ROUND(SUM(value), 2) AS sum_value
    FROM x GROUP BY 1 ORDER BY 1
    """,
)
def q56_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) windows: 2-hour windows advancing every hour —
    each event contributes to exactly duration/slide = 2 windows.

    Spark's `window(ts, '2 hours', '1 hour')` expands rows to their
    overlapping windows inside the executor (a generator, like explode)
    before one hash aggregation; the oracle spells the same expansion as a
    UNION ALL of the two shifted hourly assignments. The streaming twin is
    the identical expression under a watermark. Completes the window-family
    coverage: tumbling (q36), session (q37), hopping (here)."""
    win = F.window("ts", "2 hours", "1 hour")
    return (
        _events(spark, sf_dir)
        .groupBy(win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("win_start_ms"),
            "cnt",
            "sum_value",
        )
        .transform(lambda d: catalog_sort(d, "win_start_ms"))
    )


@register(
    "q57",
    oracle="""
    SELECT user_id, CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_ms,
           ROUND(SUM(value) OVER w, 2) AS rolling_1h,
           COUNT(*) OVER w AS n_1h
    FROM events WHERE user_id < 20
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT)
                 RANGE BETWEEN 3599999 PRECEDING AND CURRENT ROW)
    ORDER BY user_id, ts_ms LIMIT 500
    """,
)
def q57_rolling_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 1-hour per-user aggregates via a time-RANGE window frame —
    the continuous-rollup shape time-series stores call a hypertable
    rollup, expressed as a plain range frame over epoch milliseconds.

    The frame bound is integer milliseconds on BOTH engines (no float
    epoch seconds), so frame membership is bit-identical. The window
    partitions by user — parallel across users; rows with equal (user, ts)
    share a frame and produce identical rows, keeping the LIMIT stable."""
    ts_ms = F.unix_millis(F.col("ts"))
    w = (
        W.partitionBy("user_id")
        .orderBy(ts_ms)
        .rangeBetween(-3_599_999, 0)
    )
    return (
        _events(spark, sf_dir)
        .where(F.col("user_id") < 20)
        .select(
            "user_id",
            ts_ms.alias("ts_ms"),
            F.round(F.sum("value").over(w), 2).alias("rolling_1h"),
            F.count(F.lit(1)).over(w).alias("n_1h"),
        )
        .orderBy("user_id", "ts_ms")
        .limit(500)
    )
