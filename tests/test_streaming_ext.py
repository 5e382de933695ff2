"""T6 inbound transform, consumer lag, provisioning, kafka offset seek,
progress metrics listener."""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import functions as F

from event_store_spark.core import EventStore
from event_store_spark.core.state import OffsetsTable
from event_store_spark.streaming import Subscription, eos
from event_store_spark.streaming.metrics import ProgressMetricsListener
from event_store_spark.streaming.replicate import from_kafka_records, to_kafka_records
from event_store_spark.streaming.subscribe import kafka_starting_offsets

TS = datetime.datetime(2025, 1, 4, 12, 0, 0)


@pytest.fixture
def store(spark, tmp_path):
    return EventStore(spark, str(tmp_path / "store"))


def _seed(spark, store, topic="x_events"):
    df = spark.createDataFrame(
        [("k1", "p1", TS, {"hTest": bytearray(b"hv")}), ("k2", "p2", TS, None)],
        "key string, payload string, timestamp timestamp, metadata map<string,binary>",
    )
    store.append(topic, df)
    return topic


def test_kafka_record_roundtrip_t5_t6(spark, store):
    """Outbound T7/T5 then inbound T6 reconstructs envelope fields, with
    consumption metadata exposed as header.* entries."""
    topic = _seed(spark, store)
    records = to_kafka_records(store.read_events(topic))
    events = from_kafka_records(records)
    rows = {bytes(r.key): r for r in events.collect()}
    assert set(rows) == {b"k1", b"k2"}
    r = rows[b"k1"]
    assert r.timestamp == TS and r.lsn == 1 and r.id is not None
    md = {k: bytes(v) for k, v in r.metadata.items()}
    assert md["hTest"] == b"hv"
    assert md["lsn"] == b"1"  # header-borne replication metadata (T7)
    assert bytes(r.data) == b"p1"


def test_consumer_lag_gauge(spark, store, tmp_path):
    topic = _seed(spark, store)
    offsets = OffsetsTable(str(tmp_path / "offsets.json"))
    sub = Subscription(store, offsets, str(tmp_path / "ckpt"))
    assert sub.lag(topic) == 2  # nothing consumed yet
    sub.run(topic, lambda df, bid: None).awaitTermination(120)
    assert sub.lag(topic) == 0
    _seed(spark, store, topic)  # two more events
    assert sub.lag(topic) == 2


def test_topic_provisioning(store):
    path = store.create_topic("prov_events")
    assert path.endswith("prov_events")
    assert "prov_events" in store.topics()
    with pytest.raises(ValueError, match="_events"):
        store.create_topic("badname")


def test_kafka_starting_offsets_seek(tmp_path):
    offsets = OffsetsTable(str(tmp_path / "o.json"))
    offsets.upsert("t_events", 41, partition=0)
    got = json.loads(kafka_starting_offsets(offsets, "t_events", [0, 1]))
    # seek(last+1) for consumed partitions; earliest (-2) for untouched ones
    assert got == {"t_events": {"0": 42, "1": -2}}


def test_progress_metrics_listener(spark, store, tmp_path):
    """The listener counts the input rows of a derived sink's streaming
    query (an `eos.start` query over the topic's stream)."""
    topic = _seed(spark, store)
    listener = ProgressMetricsListener()
    spark.streams.addListener(listener)
    try:
        offsets = OffsetsTable(str(tmp_path / "offsets.json"))
        stream = Subscription(store, offsets, str(tmp_path / "sck")).stream(topic)

        def count_then_commit(df, batch_id, commit):
            df.count()
            commit()

        q = eos.start(
            stream, str(tmp_path / "ck"), str(tmp_path / "sink" / "_LEDGER"),
            count_then_commit,
        )
        q.awaitTermination(120)
        # listener callbacks are async; poll briefly
        import time

        total_rows = 0
        for _ in range(40):
            total_rows = sum(t["rows"] for t in listener.totals.values())
            if total_rows >= 2:
                break
            time.sleep(0.25)
        assert total_rows >= 2
    finally:
        spark.streams.removeListener(listener)
