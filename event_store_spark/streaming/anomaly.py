"""Streaming event-rate anomaly detection: the batch
`event_rate_anomalies` run continuously with O(1) state per stream.

Per event_type the state is five integers — completed-day count, sum
and sum-of-squares of daily counts, plus the currently-open day and its
partial count. A day completes when a later day's first event arrives
(event-time ordered delivery, the store's replay contract); on
completion the day folds into the stats and is scored PREQUENTIALLY —
z against the mean/std of all days completed so far, itself included,
which converges to the batch z as history accumulates and equals it
exactly for the final day of a bounded log (pinned by test).

Stats stay integer sums (the batch query's determinism trick), so the
streamed z for a given day-history is bit-identical to the batch
formula's. Late events for an already-completed day are DROPPED and
counted in the emitted `late_dropped` column — reopening a closed day
would retroactively change published stats; at-the-source ordering is
the same prerequisite the replicator's lsn order gives every consumer
(`EventReplicatorWorker.java:66-72`).
"""

from __future__ import annotations

import math
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "event_type string, day_idx bigint, cnt bigint, z double, "
    "anomalous boolean, late_dropped bigint"
)
STATE_SCHEMA = (
    "n_days bigint, s1 bigint, s2 bigint, cur_day bigint, cur_cnt bigint, "
    "late bigint"
)

ANOMALY_Z = 2.0


def _score(n: int, s1: int, s2: int, cnt: int):
    """z of `cnt` against n completed days with integer sums s1/s2 —
    the identical arithmetic shape as the batch query."""
    if n <= 1:
        return None
    var = (s2 - float(s1) * s1 / n) / (n - 1)
    if var <= 0:
        return None
    return (cnt - float(s1) / n) / math.sqrt(var)


def _update_rates(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, s1, s2, cur_day, cur_cnt, late = (
        state.get if state.exists else (0, 0, 0, None, 0, 0)
    )
    out_rows = []

    def complete(day, cnt):
        nonlocal n, s1, s2
        n += 1
        s1 += cnt
        s2 += cnt * cnt
        z = _score(n, s1, s2, cnt)
        out_rows.append(
            {
                "event_type": key[0],
                "day_idx": day,
                "cnt": cnt,
                "z": z,
                "anomalous": bool(z is not None and abs(z) > ANOMALY_Z),
                "late_dropped": late,
            }
        )

    for pdf in pdfs:
        if not len(pdf):
            continue
        days = (pdf["ts"].astype("int64") // 86_400_000_000_000).to_numpy()
        # fold per-day counts in ascending day order
        series = pd.Series(days).value_counts().sort_index()
        for day, cnt in series.items():
            day, cnt = int(day), int(cnt)
            if cur_day is None or day == cur_day:
                cur_day = day
                cur_cnt += cnt
            elif day > cur_day:
                complete(cur_day, cur_cnt)
                cur_day, cur_cnt = day, cnt
            else:  # late for an already-closed day
                late += cnt
    state.update((n, s1, s2, cur_day, cur_cnt, late))
    if not out_rows:
        yield pd.DataFrame(columns=[
            "event_type", "day_idx", "cnt", "z", "anomalous", "late_dropped"
        ]).astype({
            "event_type": object, "day_idx": "int64", "cnt": "int64",
            "z": "float64", "anomalous": bool, "late_dropped": "int64",
        })
        return
    out = pd.DataFrame(out_rows)
    # an undefined z must surface as SQL NULL, not NaN — pandas coerces
    # None to NaN inside a float column, and Spark treats NaN != NULL
    out["z"] = out["z"].astype(object)
    out.loc[out["z"].isna(), "z"] = None
    yield out


def streaming_rate_anomalies(events_stream: DataFrame) -> DataFrame:
    """Continuous per-stream daily-rate anomaly alarm (update mode: one
    row per COMPLETED day per stream, scored prequentially)."""
    from event_store_spark.shipping import ensure_shipped

    ensure_shipped()
    return (
        events_stream.select("event_type", "ts")
        .groupBy("event_type")
        .applyInPandasWithState(
            _update_rates,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
