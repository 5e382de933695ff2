"""CEP query: non-overlapping view→click→purchase conversions per user.

`funnel_stages` asks "did the user EVER convert" (first match only);
this asks HOW MANY TIMES, with MATCH_RECOGNIZE semantics — each event
consumed by at most one match, candidates expire after the time bound —
via `operators.cep.match_pattern`.

The oracle replays the identical DFA as a DuckDB recursive CTE: one
state row per user advanced one EVENT per iteration (depth = max events
per user, work = |events| total), with the same transition function the
operator's fold runs — stale-candidate drop before testing, greedy
anchor, skip-till-next-match, reset on completion. Times compare in
exact epoch microseconds; no float anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_store_spark.plans.registry import register
from event_store_spark.tables import hot_table

CEP_WITHIN_US = 172_800_000_000  # 48 h (fixture events are ~7 h apart per user)


@register(
    "cep_conversions",
    oracle=f"""
    WITH RECURSIVE ev AS (
        SELECT user_id, epoch_us(ts) AS us, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events),
    r(user_id, rn, step, start_us, matches) AS (
        SELECT user_id, 0, 0, CAST(NULL AS BIGINT), 0
        FROM (SELECT DISTINCT user_id FROM ev)
        UNION ALL
        SELECT r.user_id, r.rn + 1,
               CASE
                 WHEN eff.step = 0 AND e.event_type = 'view' THEN 1
                 WHEN eff.step = 1 AND e.event_type = 'click' THEN 2
                 WHEN eff.step = 2 AND e.event_type = 'purchase' THEN 0
                 ELSE eff.step END,
               CASE
                 WHEN eff.step = 0 AND e.event_type = 'view' THEN e.us
                 WHEN eff.step = 2 AND e.event_type = 'purchase'
                     THEN CAST(NULL AS BIGINT)
                 ELSE eff.start_us END,
               r.matches + CASE WHEN eff.step = 2
                                 AND e.event_type = 'purchase'
                                THEN 1 ELSE 0 END
        FROM r
        JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1,
        LATERAL (SELECT
            CASE WHEN r.step > 0 AND e.us - r.start_us > {CEP_WITHIN_US}
                 THEN 0 ELSE r.step END AS step,
            CASE WHEN r.step > 0 AND e.us - r.start_us > {CEP_WITHIN_US}
                 THEN CAST(NULL AS BIGINT) ELSE r.start_us END AS start_us
        ) eff),
    final AS (SELECT user_id, matches,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY rn DESC) AS k
              FROM r)
    SELECT user_id, CAST(matches AS BIGINT) AS n_conversions
    FROM final WHERE k = 1 AND matches > 0
    ORDER BY user_id
    """,
)
def cep_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user count of completed, non-overlapping view→click→purchase
    sequences within 48 hours."""
    from event_store_spark.operators.cep import match_pattern

    ev = hot_table(spark, sf_dir, "events")
    matches = match_pattern(
        ev,
        keys=["user_id"],
        time_col="ts",
        order_cols=["event_id"],
        steps=[
            F.col("event_type") == "view",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
        within_us=CEP_WITHIN_US,
    )
    return (
        matches.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_conversions"))
        .orderBy("user_id")
    )
