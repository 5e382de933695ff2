"""Structured Streaming layer: subscribe, replicate, exactly-once sinks."""

from event_store_spark.streaming.eos import exactly_once
from event_store_spark.streaming.kafka import (
    kafka_reader_options,
    kafka_source_to_records,
    kafka_stream,
    kafka_writer_options,
    records_to_kafka_sink,
)
from event_store_spark.streaming.contamination import (
    benchmark_grams,
    contamination_gate,
)
from event_store_spark.streaming.curation import CurationPipeline
from event_store_spark.streaming.neardup_winnow import WinnowDedupGate
from event_store_spark.streaming.lock import LockManager, LockMonitor
from event_store_spark.streaming.ocf_ingest import OcfIngest
from event_store_spark.streaming.replicate import Replicator
from event_store_spark.streaming.subscribe import Subscription
from event_store_spark.streaming.typed_ingest import TypedEventsMaterializer

__all__ = [
    "WinnowDedupGate",
    "Subscription",
    "Replicator",
    "LockManager",
    "LockMonitor",
    "CurationPipeline",
    "TypedEventsMaterializer",
    "OcfIngest",
    "benchmark_grams",
    "contamination_gate",
    "exactly_once",
    "kafka_reader_options",
    "kafka_writer_options",
    "kafka_source_to_records",
    "records_to_kafka_sink",
    "kafka_stream",
]
