"""One-call Avro event store: the reference's save/subscribe ergonomics.

`AvroEventStore` composes the layers the way `PostgresEventStore.save`
does internally (validate → Avro-serialize → [encrypt] → insert,
`PostgresEventStore.java:109-142`), but over DataFrames:

    store = AvroEventStore(spark, root, registry, encryptor)
    store.save("orders_events", df, "OrderPlaced")          # T1 [+C1] + S1
    events = store.load("orders_events", "OrderPlaced")     # C2 + T2

Each call is still a batch (a DataFrame of events), because that is the
Spark-native unit of work; per-event save loops are an anti-pattern at any
scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_store_spark.avro.registry import LocalSchemaRegistry
from event_store_spark.avro.spark import from_confluent_avro, to_confluent_avro
from event_store_spark.core.cursor import Cursor
from event_store_spark.core.envelope import (
    canonical_key,
    truncate_millis,
    validate_metadata,
)
from event_store_spark.core.store import EventStore
from event_store_spark.crypto.aead import EventEncryptor


class AvroEventStore(EventStore):
    """EventStore whose payloads are Confluent-framed Avro, optionally AEAD."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        registry: LocalSchemaRegistry,
        encryptor: EventEncryptor | None = None,
    ):
        super().__init__(spark, root)
        self.registry = registry
        self.encryptor = encryptor

    def save(
        self,
        topic: str,
        df: DataFrame,
        record_name: str,
        key_type: str = "string",
        encryption_key: str | None = None,
        partition_by_day: bool = False,
    ) -> Cursor:
        """Serialize payload columns to Avro ``data`` and append.

        ``df`` columns: ``key``, optional ``timestamp``/``metadata``, plus
        one column per field of the registered record schema.
        ``encryption_key`` (a kid URI) enables AEAD, mirroring
        ``save(topic, event, encryptionKey)`` (`EventStore.java:94`).

        Each row crosses into Python once: an encrypted save serializes
        and seals in one Arrow UDF (:meth:`EventEncryptor.encrypt_avro_df`),
        and ``append`` persists the batch so the write reuses that pass. A
        batch under the store's file-size target lands as one file.
        """
        codec = self.registry.codec_by_name(record_name)
        sid = self.registry.id_by_name(record_name)
        payload = F.struct(*[n for n, _ in codec.fields])
        if encryption_key is None:
            envelope_cols = [
                c for c in ("key", "timestamp", "metadata") if c in df.columns
            ]
            serialized = df.select(
                *envelope_cols,
                to_confluent_avro(payload, codec.schema, sid).alias("data"),
            )
            return self.append(
                topic, serialized, key_type=key_type, partition_by_day=partition_by_day
            )
        if self.encryptor is None:
            raise ValueError("no encryptor configured for encryption_key")
        # validate USER metadata now — the store itself then adds `kid`
        # (allowed: PostgresEventStore.java:152-160 does the same), so the
        # final append skips re-validation
        validate_metadata(df)
        ts = (
            F.col("timestamp").cast("timestamp_ltz")
            if "timestamp" in df.columns
            else F.current_timestamp()
        )
        md = (
            F.col("metadata")
            if "metadata" in df.columns
            else F.lit(None).cast("map<string,binary>")
        )
        # the AAD covers the canonical key and the ms-truncated timestamp,
        # so both are fixed before sealing
        staged = df.select(
            canonical_key(F.col("key"), key_type).alias("key"),
            truncate_millis(ts).alias("timestamp"),
            md.alias("metadata"),
            payload.alias("payload"),
        )
        encrypted = self.encryptor.encrypt_avro_df(
            staged, F.col("payload"), codec.schema, sid, encryption_key
        ).drop("payload")
        # keep the CALLER's key_type: canonical_key is idempotent (the
        # staged key is UTF-8 bytes of the string form, and re-encoding
        # round-trips), so the descriptor records the true type — encrypted
        # and plaintext saves stay interchangeable per topic
        # (EventStore.java:94) and typed key views keep working
        return self.append(
            topic,
            encrypted,
            key_type=key_type,
            validate=False,  # kid was added by the store, not the user
            partition_by_day=partition_by_day,
        )

    def load(
        self,
        topic: str,
        record_name: str,
        after: Cursor | None = None,
    ) -> DataFrame:
        """Read events, conditionally decrypt (C2), deserialize to a typed
        ``payload`` struct (T2); envelope columns preserved.

        Reads with the LATEST schema as the reader but resolves each frame's
        writer schema by the id it carries, so topics containing rows written
        before a schema evolution keep decoding (registry contract)."""
        codec = self.registry.codec_by_name(record_name)
        sid = self.registry.id_by_name(record_name)
        writer_schemas = {
            v: self.registry.codec_by_id(v).schema
            for v in self.registry.versions(record_name)
        }
        df = self.read_events(topic, after=after)
        if self.encryptor is not None:
            df = self.encryptor.decrypt_df(df)
        return df.withColumn(
            "payload",
            from_confluent_avro(
                F.col("data"), codec.schema, sid, writer_schemas=writer_schemas
            ),
        )
