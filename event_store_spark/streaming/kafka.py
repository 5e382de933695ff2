"""Kafka source/sink wiring (S2–S5): the broker-native path.

Re-expresses the reference's Kafka substrate on Spark's Kafka connector:

| reference | here |
|---|---|
| consumer with DB-offset seek: `subscription(List.of(topic))` + `receiverPartition.seek(lastOffset + 1)` on assignment (`ReactorKafkaEventStore.java:233-246,255-291`) | `format("kafka")` reader with `startingOffsets` JSON built from the offsets table (:func:`kafka_reader_options` + `kafka_starting_offsets`) |
| `isolation.level=read_committed` consumer (`ReactorKafkaEventStoreAutoConfiguration.java:87`) | `kafka.isolation.level=read_committed` reader option |
| transactional producer: events + progress cursor in one Kafka txn (`EventReplicatorWorker.java:184-208`) | `format("kafka")` sink writing (key, value, headers); Spark's producer is at-least-once, so exactly-once is restored on the CONSUMER side by the (lsn, id) header cursor — the same dedupe key the file sink uses (see `Replicator`) |
| record shape: key/value/event-time timestamp + headers incl. `id`, `lsn` (`EventReplicatorWorker.java:187-230`) | :func:`records_to_kafka_sink` / :func:`kafka_source_to_records` adapters around the T5/T6/T7 transforms in `replicate.py` |
| Kafka Streams source with serde-on-read (`KafkaStreamsEventStore.java:135-143`) | the same reader; Avro serde is a `from_confluent_avro` select over `value` |

No broker (or spark-sql-kafka connector jar) exists in this environment, so
the option/adapter layer is pure and unit-tested by injecting
Kafka-schema DataFrames; `.load()`/`.save()` happen only inside
:func:`kafka_stream` / the Replicator's kafka branch, which a deployment
with the connector on the classpath exercises unchanged.

Known semantic gap, documented: Spark's Kafka sink does not forward a
producer-record timestamp (the reference sets it to the event timestamp,
`EventReplicatorWorker.java:200`); the event time continues to travel in
the serialized payload and can be restored by consumers, and broker
`LogAppendTime`/`CreateTime` stamping applies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_store_spark.core.state import OffsetsTable

#: The exact schema `format("kafka")` sources produce (Spark docs) — used by
#: tests to inject broker-shaped frames without a broker.
KAFKA_SOURCE_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int, "
    "headers array<struct<key:string,value:binary>>"
)


def kafka_reader_options(
    bootstrap_servers: str,
    topic: str,
    offsets: OffsetsTable | None = None,
    partitions: list[int] | None = None,
    fail_on_data_loss: bool = True,
) -> dict[str, str]:
    """Reader options for consuming one event topic with offsets-table resume.

    Mirrors the reference consumer: subscribe to the topic
    (`ReactorKafkaEventStore.java:243`), read committed data only
    (`ReactorKafkaEventStoreAutoConfiguration.java:87`), seek each assigned
    partition to last-processed + 1 (`:278` — here `startingOffsets` built
    from the offsets table), headers on (the cursor travels in them).

    Contract: ``offsets`` requires ``partitions`` listing EVERY partition
    of the topic — Spark's specific-offsets mode refuses to start if any
    topic partition is missing from the JSON (unlike the reference's
    seek-on-assignment, which discovers partitions dynamically). A topic
    that grew partitions since offsets were recorded must include the new
    ones (the offsets table returns -1 → 'earliest-equivalent' for them).
    Passing ``offsets`` WITHOUT partitions raises instead of silently
    re-reading the whole topic from the beginning.
    """
    from event_store_spark.streaming.subscribe import kafka_starting_offsets

    if offsets is not None and not partitions:
        raise ValueError(
            "offsets-table resume requires the full partition list: pass "
            "partitions=[...] (every partition of the topic), or omit "
            "offsets to start from 'earliest'"
        )
    if offsets is not None:
        starting = kafka_starting_offsets(offsets, topic, partitions)
    else:
        starting = "earliest"
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "includeHeaders": "true",
        "kafka.isolation.level": "read_committed",
        "startingOffsets": starting,
        "failOnDataLoss": "true" if fail_on_data_loss else "false",
    }


def kafka_writer_options(bootstrap_servers: str, topic: str) -> dict[str, str]:
    """Sink options for producing one event topic.

    Headers need no option on the SINK side — Spark's Kafka writer emits
    them whenever the DataFrame carries a `headers` column
    (`records_to_kafka_sink` always does); `includeHeaders` is a
    source-only option."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
    }


def kafka_source_to_records(df: DataFrame) -> DataFrame:
    """Kafka source frame → the inbound record shape `from_kafka_records`
    consumes (T6 input): key, value, epoch-ms timestamp, headers, plus
    partition/offset so consumption metadata lands in event metadata
    (`ReactorKafkaEventTransformer.java:128-145`)."""
    return df.select(
        F.col("key"),
        F.col("value"),
        F.unix_millis(F.col("timestamp")).alias("timestamp_ms"),
        F.col("headers"),
        F.col("partition"),
        F.col("offset"),
    )


def records_to_kafka_sink(df: DataFrame) -> DataFrame:
    """Outbound records (T5/T7 shape from `to_kafka_records`) → the exact
    column set Spark's Kafka sink consumes: key/value binary + headers.
    Replication metadata (id, lsn) already rides in the canonically sorted
    headers; lsn/id/timestamp_ms bookkeeping columns are dropped."""
    return df.select(F.col("key"), F.col("value"), F.col("headers"))


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    offsets: OffsetsTable | None = None,
    partitions: list[int] | None = None,
    extra_options: dict[str, str] | None = None,
    **extra_kwargs: str,
) -> DataFrame:
    """Streaming DataFrame of decoded events from a Kafka topic.

    Composition: `format("kafka")` reader → :func:`kafka_source_to_records`
    → `from_kafka_records` (T6). Requires the spark-sql-kafka connector on
    the classpath; everything up to `.load()` is covered by unit tests.

    Broker options with DOTTED names (kafka.security.protocol,
    kafka.sasl.jaas.config, …) go in ``extra_options`` — they cannot be
    written as Python keywords; plain keyword args still work for
    undotted option names.
    """
    from event_store_spark.streaming.replicate import from_kafka_records

    reader = spark.readStream.format("kafka")
    opts = kafka_reader_options(bootstrap_servers, topic, offsets, partitions)
    opts.update(extra_options or {})
    opts.update(extra_kwargs)
    for k, v in opts.items():
        reader = reader.option(k, v)
    return from_kafka_records(kafka_source_to_records(reader.load()))
