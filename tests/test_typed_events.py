"""Parse-at-ingest typed events (VERDICT r6 #2).

q28_typed/q52_typed serve from a one-time per-corpus materialization of
the parsed `props` column; their oracle parity runs with the whole
registry in test_oracle_parity.py. Here we pin the properties that make
the twins the 100 TB answer: the warm query plan contains no JSON parse,
the materialization is reused (not rebuilt) across calls, and a
regenerated source fixture invalidates the cache.
"""

from __future__ import annotations

import os

from event_store_spark.plans.typed_events import (
    q28_typed,
    q52_typed,
    typed_events,
)
from event_store_spark.tables import side_table_dir


def _typed_dir(sf_dir: str) -> str:
    return side_table_dir(sf_dir, "events", "events_typed")


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_warm_plan_has_no_json_parse(spark, sf_smoke):
    typed_events(spark, sf_smoke)  # ensure materialized
    for q in (q28_typed, q52_typed):
        plan = _executed_plan(q(spark, sf_smoke))
        assert "from_json" not in plan
        assert "get_json_object" not in plan
        # it must be a parquet scan of the typed table, not of events.parquet
        assert "events_typed" in plan


def test_materialization_reused(spark, sf_smoke):
    d = _typed_dir(sf_smoke)
    typed_events(spark, sf_smoke)
    assert os.path.isdir(d)
    mtime = os.stat(d).st_mtime_ns
    typed_events(spark, sf_smoke)  # second call: no rewrite
    assert os.stat(d).st_mtime_ns == mtime


def test_cache_keyed_by_source_identity(spark, sf_smoke, tmp_path):
    """A corpus at a different path (or same path, new mtime) gets its own
    materialization — the digest covers realpath+mtime+size."""
    import shutil

    alt = tmp_path / "corpus"
    alt.mkdir()
    shutil.copytree(
        os.path.join(sf_smoke, "events.parquet"),
        alt / "events.parquet",
    ) if os.path.isdir(os.path.join(sf_smoke, "events.parquet")) else shutil.copy(
        os.path.join(sf_smoke, "events.parquet"), alt / "events.parquet"
    )
    assert _typed_dir(str(alt)) != _typed_dir(sf_smoke)


def test_typed_columns_match_string_parse(spark, sf_smoke):
    """The ingest-parsed columns agree row-for-row with query-time parsing
    (the fallback forms q28/q52 stay registered against)."""
    from pyspark.sql import functions as F

    from event_store_spark.tables import load_table

    ev = load_table(spark, sf_smoke, "events")
    expected = sorted(
        (r["event_id"], r["k"])
        for r in ev.select(
            "event_id", F.get_json_object("props", "$.k").alias("k")
        ).collect()
    )
    got = sorted(
        (r["event_id"], r["k_str"])
        for r in typed_events(spark, sf_smoke).select("event_id", "k_str").collect()
    )
    assert got == expected


def test_streaming_typed_ingest_matches_batch_backfill(spark, sf_smoke, tmp_path):
    """The streaming maintainer's typed table must equal the batch
    backfill over the same rows regardless of micro-batch cuts, and a
    replayed batch must not duplicate (overwrite-by-batch-id)."""
    from event_store_spark.streaming.typed_ingest import TypedEventsMaterializer
    from event_store_spark.tables import load_table

    ev = load_table(spark, sf_smoke, "events")
    src = str(tmp_path / "src")
    n = ev.count()
    half = n // 2
    from pyspark.sql import functions as F

    ev.orderBy("event_id").limit(half).coalesce(1).write.mode("append").parquet(src)
    ev.orderBy(F.col("event_id").desc()).limit(n - half).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    mat = TypedEventsMaterializer(
        spark, str(tmp_path / "typed"), str(tmp_path / "ck")
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = mat.start(stream)
    q.awaitTermination(240)

    want = sorted(
        map(tuple, typed_events(spark, sf_smoke).select(
            "event_id", "key_name", "k_str", "k_int"
        ).collect())
    )
    got = sorted(
        map(tuple, mat.table().select(
            "event_id", "key_name", "k_str", "k_int"
        ).collect())
    )
    assert got == want

    # replay the whole source under the same checkpoint: no new rows
    q = mat.start(
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q.awaitTermination(240)
    assert mat.table().count() == n
