"""Temporal joins: as-of (attribution) join and banded range join.

Two operators every event-analytics engine needs that Spark has no built-in
for, each expressed as a composition of shuffle-friendly DataFrame ops (no
Pandas UDF, no cartesian product):

- **as-of join** (`asof_join`): for each purchase event, the most recent
  view event by the same user at-or-before it — the classic attribution
  lookup. Implemented with the union trick: tag both sides, union, and carry
  the right side's payload forward with ``last(..., ignorenulls=True)`` over
  a ``(key ORDER BY time)`` window. ONE shuffle on the join key, no range
  explosion, no per-left-row probe — at 100 TB this is a single hash
  repartition + sorted window scan per key, the same cost as any windowed
  aggregate. (The naive alternative — inequality join + row_number — builds
  |L|×avg-matches intermediate rows; the union form never materializes a
  match candidate at all.)

- **banded range join** (`range_join_banded`): for each error event, the
  number of click events within ±5 minutes, with NO equi key — the pure
  interval join that naively is a cartesian product. Implemented by
  quantizing time into buckets the width of the whole search WINDOW
  (2×radius here): each right row lands in exactly one bucket, each left
  row's window spans at most 2 consecutive buckets (explode ≤2 probes),
  and the range predicate rides INSIDE an equi-join on the bucket.
  Catalyst executes a plain shuffled hash/sort-merge join on `bucket`;
  per-bucket fan-in is bounded by event rate × window, so the plan
  survives any corpus size by tuning the bucket width — the standard
  distributed interval-join strategy (cf. Flink's interval join, which
  buckets state the same way).

Both have exact DuckDB oracles (integer-microsecond arithmetic on both
sides, deterministic tie-breaks), so the driver hash-checks them like any
relational query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_store_spark.operators.temporal import asof_join as generic_asof_join
from event_store_spark.operators.temporal import interval_join as generic_interval_join
from event_store_spark.plans.registry import register
from event_store_spark.tables import hot_table

#: search radius (5 min in µs); the operator buckets time at the window
#: width (2×radius), so each left row probes at most 2 buckets
_RADIUS_US = 300_000_000


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hot_table(spark, sf_dir, "events")


@register(
    "asof_join",
    oracle="""
    WITH v AS (SELECT user_id, ts, event_id AS view_id FROM events
               WHERE event_type = 'view'),
    p AS (SELECT user_id, ts, event_id FROM events
          WHERE event_type = 'purchase'),
    j AS (
        SELECT p.event_id, p.user_id, v.view_id,
               epoch_us(CAST(p.ts AS TIMESTAMP))
                 - epoch_us(CAST(v.ts AS TIMESTAMP)) AS gap_us,
               ROW_NUMBER() OVER (PARTITION BY p.event_id
                                  ORDER BY v.ts DESC, v.view_id DESC) AS rn
        FROM p LEFT JOIN v ON v.user_id = p.user_id AND v.ts <= p.ts
    )
    SELECT event_id, user_id, view_id, gap_us
    FROM j WHERE rn = 1 ORDER BY event_id LIMIT 500
    """,
)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase ← latest view by the same user
    at-or-before it (ties on view time broken by max view_id).

    Union-and-carry form: rights sort before lefts at equal time
    (inclusive `<=`), ascending view_id within a tie so ``last`` keeps the
    max. One shuffle on user_id; left rows with no prior view keep NULLs
    (left-outer semantics), matching the oracle's LEFT JOIN.
    """
    ev = _events(spark, sf_dir)
    left = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    right = ev.where(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.unix_micros(F.col("ts")).alias("v_us"),
    )
    joined = generic_asof_join(
        left, right, keys=["user_id"], left_time="ts", right_time="v_us",
        payload=["view_id", "v_us"], how="left",
    )
    return (
        joined.select(
            "event_id",
            "user_id",
            "view_id",
            (F.unix_micros(F.col("ts")) - F.col("v_us")).alias("gap_us"),
        )
        .orderBy("event_id")
        .limit(500)
    )


@register(
    "range_join_banded",
    oracle="""
    SELECT e.event_id, COUNT(c.event_id) AS n_nearby
    FROM events e LEFT JOIN events c
      ON c.event_type = 'click'
     AND c.ts >= e.ts - INTERVAL 5 MINUTE
     AND c.ts <= e.ts + INTERVAL 5 MINUTE
    WHERE e.event_type = 'error'
    GROUP BY e.event_id ORDER BY e.event_id LIMIT 500
    """,
)
def range_join_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless interval join via time-bucket banding: per error event, the
    count of click events within ±5 minutes (any user).

    Each click hashes to exactly one window-width (2×radius) bucket; each
    error's ±radius window spans at most 2 consecutive buckets, so a
    qualifying pair meets in exactly one bucket (no double count) and the
    join is a plain equi-join on `bucket` with the range predicate as a
    residual inside the join condition (left-outer, so zero-match errors
    survive with count 0). Delegates to `operators.temporal.interval_join`.
    """
    ev = _events(spark, sf_dir)
    err = ev.where(F.col("event_type") == "error").select("event_id", "ts")
    clk = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    joined = generic_interval_join(
        err, clk, left_time="ts", right_time="c_ts",
        lower_us=-_RADIUS_US, upper_us=_RADIUS_US, how="left",
    )
    return (
        joined.groupBy("event_id")
        .agg(F.count("click_id").alias("n_nearby"))
        .orderBy("event_id")
        .limit(500)
    )


@register(
    "event_state_snapshot",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_events
        FROM events)
    SELECT user_id, event_id AS last_event_id, event_type AS last_type,
           ROUND(value, 2) AS last_value, CAST(n_events AS BIGINT) AS n_events
    FROM ranked WHERE rn = 1 ORDER BY user_id LIMIT 500
    """,
)
def event_state_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current-state snapshot of the event log: each key's LATEST event
    (by event time, ties by event_id) — the materialized view a CDC
    consumer folds an append-only log into.

    Implemented as ONE hash aggregation with `max_by` over a (ts,
    event_id) ordering struct — commutative and partial-aggregable, so it
    map-side combines and never materializes a per-key window. The
    row_number()-over-window alternative shuffles and sorts EVERY event;
    at 100 TB the agg form moves one row per key per partition instead.
    """
    ev = _events(spark, sf_dir)
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy("user_id")
        .agg(
            F.max_by("event_id", ordk).alias("last_event_id"),
            F.max_by("event_type", ordk).alias("last_type"),
            F.round(F.max_by("value", ordk), 2).alias("last_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
        .limit(500)
    )
