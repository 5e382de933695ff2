"""Replicate: exactly-once, commit-order replication of event tables (X2).

Re-expresses the reference's Postgres→Kafka replicator
(`EventReplicator.java` + `EventReplicatorWorker.java`):

| reference | here |
|---|---|
| keyset scan `WHERE lsn IS NOT NULL AND (lsn,id) > cursor ORDER BY lsn,id LIMIT n` (`EventReplicatorWorker.java:66-72`) | keyset batches over the topic's commit log (`streaming.keyset`): the files whose logged (lsn, id) high is past the cursor, at most `max_files_per_trigger` of them, read in (cursor, hi] (O2) |
| Kafka txn {events + cursor} (`:184-208`) | one pending-plan rule — see Exactness below |
| record shape: key/value/ts + headers incl. `id`,`lsn`, sorted (T7/O4, `:187-230`) | outbound projection with `headers: array<struct<key,value>>` canonically sorted |
| compacted progress topic, last-write-wins (S9, `EventReplicator.java:215-256`) | :class:`ProgressStore` (atomic JSON; Delta/DB in prod) |
| per-topic worker threads (`:174-183`) | one keyset drain per topic |
| advisory-lock single writer (X4, `LockManager.java:45-84` + `LockMonitor.java:52-58`) | :class:`streaming.lock.LockManager` lease: acquire at start (second writer refused), heartbeat per batch, failure on loss |

Exactness (X2). Appends are atomic to every reader: a topic's rows become
visible through one entry of its commit log (`core.store`), and a batch
is planned from the files that log names, with the high water ``hi``
taken from their logged bounds, so a batch never covers a row that is
not yet visible. Exactly-once across crashes rests on the one rule of
`streaming.keyset`: the progress entry records the batch as pending
(its id and ``hi``) before any write, the batch writes, and the progress
save of ``cursor = hi`` commits it. A start that finds a pending batch
reruns exactly (cursor, hi]:

- the files sink overwrites the directory ``cursor=<hi>`` with the same
  rows, so a crash between the write and the commit leaves no duplicate;
- the kafka sink produces a new batch's rows; a rerun anti-joins them
  against the (lsn, id) pairs the broker already has and produces only
  the missing ones, or, when the topic cannot be read, produces the
  whole batch again (at-least-once; the consumer's keyset dedupe drops
  the copies).

Rows at or below the cursor are never read again, so `EventStore.compact`
rewriting them under new file paths redelivers nothing. The files sink
keeps no other state: no streaming checkpoint, no lineage.

Scale: replication never globally sorts — a batch is read from the files
whose (lsn, id) range meets it, and `sortWithinPartitions` restores the
within-batch (lsn, id) order cheaply. Downstream consumers that need
total order replay via `(lsn, id)` exactly like the reference's
consumers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from event_store_spark.core.cursor import Cursor
from event_store_spark.core.envelope import canonical_metadata_entries
from event_store_spark.core.state import ProgressStore
from event_store_spark.core.store import EventStore
from event_store_spark.streaming.keyset import Batch, Drain
from event_store_spark.streaming.lock import LockManager


def to_kafka_records(df: DataFrame) -> DataFrame:
    """Envelope → outbound record shape (T7): key bytes, payload/data value,
    epoch-ms timestamp, canonically sorted headers including id + lsn."""
    if "data" in df.columns:
        value = F.col("data")
    else:
        from pyspark.sql import types as T

        ptype = df.schema["payload"].dataType
        if isinstance(ptype, (T.StructType, T.MapType, T.ArrayType)):
            value = F.encode(F.to_json("payload"), "UTF-8")
        elif isinstance(ptype, T.BinaryType):
            value = F.col("payload")
        else:
            value = F.encode(F.col("payload").cast("string"), "UTF-8")
    meta = F.coalesce(
        canonical_metadata_entries(F.col("metadata")),
        F.array().cast("array<struct<key:string,value:binary>>"),
    )
    extra = F.array(
        F.struct(F.lit("id").alias("key"), F.encode(F.col("id").cast("string"), "UTF-8").alias("value")),
        F.struct(F.lit("lsn").alias("key"), F.encode(F.col("lsn").cast("string"), "UTF-8").alias("value")),
    )
    return df.select(
        F.col("key"),
        value.alias("value"),
        F.unix_millis(F.col("timestamp").cast("timestamp_ltz")).alias("timestamp_ms"),
        F.array_sort(F.concat(extra, meta)).alias("headers"),
        F.col("lsn"),
        F.col("id"),
    )


def from_kafka_records(df: DataFrame) -> DataFrame:
    """Inbound record → event shape (T6): ``data`` = value, timestamp from
    epoch-ms, metadata = {partition?, offset?, header.*} as map<string,binary>.

    Mirrors `ReactorKafkaEventTransformer.java:128-145,169-190`: consumption
    metadata (partition/offset when present, plus every header) is exposed
    read-only on the event. Header-borne ``lsn``/``id`` are also lifted back
    into typed envelope columns for replay ordering.
    """
    meta_cols = [
        F.struct(F.lit(c).alias("key"), F.encode(F.col(c).cast("string"), "UTF-8").alias("value"))
        for c in ("partition", "offset")
        if c in df.columns
    ]
    entries = F.concat(
        F.array(*meta_cols) if meta_cols else F.array().cast("array<struct<key:string,value:binary>>"),
        F.coalesce(F.col("headers"), F.array().cast("array<struct<key:string,value:binary>>")),
    )
    header = lambda name: F.expr(  # noqa: E731 - one-line header lookup
        f"filter(headers, h -> h.key = '{name}')[0].value"
    )
    return df.select(
        F.decode(header("id"), "UTF-8").cast("long").alias("id"),
        F.col("key"),
        F.timestamp_millis(F.col("timestamp_ms")).alias("timestamp"),
        F.map_from_entries(entries).alias("metadata"),
        F.decode(header("lsn"), "UTF-8").cast("long").alias("lsn"),
        F.col("value").alias("data"),
    )


class Replicator:
    """Exactly-once replication of one or more event tables to record tables.

    ``checkpoint_root`` is unused: replication keeps its position in
    ``progress`` alone (`streaming.keyset`). It keeps its place in the
    signature for positional callers."""

    def __init__(
        self,
        store: EventStore,
        target_root: str,
        progress: ProgressStore,
        checkpoint_root: str | None = None,
        max_files_per_trigger: int | None = None,
        sink: str = "files",
        bootstrap_servers: str | None = None,
        lock: LockManager | None = None,
        kafka_record_sink=None,
        kafka_record_reader=None,
    ):
        if sink not in ("files", "kafka"):
            raise ValueError("sink must be 'files' or 'kafka'")
        if sink == "kafka" and not bootstrap_servers:
            raise ValueError("kafka sink requires bootstrap_servers")
        self.store = store
        self.target_root = target_root
        self.progress = progress
        self.max_files_per_trigger = max_files_per_trigger
        self.sink = sink
        self.bootstrap_servers = bootstrap_servers
        self.lock = lock
        #: injection seam for broker-less contract tests / custom producers:
        #: a callable receiving each batch's (key, value, headers) sink
        #: frame; when set, the kafka branch calls it instead of
        #: `.write.format("kafka").save()` — everything upstream (keyset
        #: batch, record projection, cursor commit) runs unchanged.
        self.kafka_record_sink = kafka_record_sink
        #: read-back of a rerun batch: a callable `(topic) -> DataFrame`
        #: returning the target topic's existing records in the
        #: `format("kafka")` SOURCE schema. A batch that crashed after
        #: producing some or all of its rows is rerun against the (lsn,
        #: id) pairs already ON the broker, so only the missing rows are
        #: produced and even foreign read_committed consumers see every
        #: event exactly once (and a crash MID-produce converges). When
        #: unset and bootstrap_servers names a real broker, the default
        #: reader is a batch `format("kafka")` read of the topic; when the
        #: topic cannot be read, the rerun produces its whole batch again
        #: (at-least-once; the consumer's keyset dedupe drops the copies).
        self.kafka_record_reader = kafka_record_reader

    def target_path(self, topic: str) -> str:
        return f"{self.target_root}/{topic}"

    def replicate(self, topic: str, available_now: bool = True) -> Drain:
        if self.lock is not None and not self.lock.acquire():
            # X4: refuse to start a second writer (LockManager.java:45-84 —
            # pg_try_advisory_lock returning false)
            raise RuntimeError(
                "another replicator instance holds the lock; refusing to "
                "start a second writer (X4)"
            )

        def apply(df, rows: int, batch_id: int, batch: Batch, rerun: bool) -> None:
            if self.lock is not None and not self.lock.heartbeat():
                # lock lost mid-run (lease stolen after an apparent death):
                # fail before writing — the analog of LockMonitor's exit(1)
                # (`LockMonitor.java:52-58`, X6)
                raise RuntimeError("replicator lock lost; failing query (X4/X6)")
            if rows:
                records = to_kafka_records(df).sortWithinPartitions("lsn", "id")
                if self.sink == "files":
                    # keyed by the batch's high water: a rerun overwrites
                    # the same directory with the same rows (the
                    # Spark-file analog of the reference's Kafka
                    # transaction)
                    records.write.mode("overwrite").parquet(self._dir(topic, batch.hi))
                elif rerun and (pairs := self._broker_pairs(topic)) is not None:
                    # the rows the broker lacks; with the broker unreadable
                    # the whole batch again (at-least-once, never a loss)
                    missing = records.join(
                        pairs.where(F.col("lsn").between(batch.after.lsn, batch.hi.lsn)),
                        ["lsn", "id"], "left_anti",
                    )
                    if not missing.isEmpty():
                        self._produce(topic, missing)
                else:
                    self._produce(topic, records)
            self.progress.save(topic, batch.hi, batch_id=batch_id)

        return Drain(
            self.store, topic, self.progress, apply, self.max_files_per_trigger, available_now
        )

    def _dir(self, topic: str, cursor: Cursor) -> str:
        return f"{self.target_path(topic)}/cursor={cursor.serialize().replace(':', '_')}"

    def _produce(self, topic: str, records: DataFrame) -> None:
        """Broker-native path (S2/S3): produce (key, value, headers)
        records. The reference wraps events + the progress record in ONE
        Kafka transaction (`EventReplicatorWorker.java:184-208`); Spark's
        Kafka sink is at-least-once, so exactly-once is restored on the
        consumer side by the (lsn, id) header cursor — redelivered records
        carry an already-seen cursor and are dropped by Subscription's
        per-partition keyset filter
        (`subscribe.Subscription._kafka_process_and_offset`, F1) before any
        projection runs."""
        from event_store_spark.streaming.kafka import (
            kafka_writer_options,
            records_to_kafka_sink,
        )

        out = records_to_kafka_sink(records)
        if self.kafka_record_sink is not None:
            self.kafka_record_sink(out)
        else:
            out.write.format("kafka").options(
                **kafka_writer_options(self.bootstrap_servers, topic)
            ).save()

    def _broker_pairs(self, topic: str) -> DataFrame | None:
        """The (lsn, id) pairs on the target topic, read back from its
        headers, or None when the topic cannot be read — injected reader
        first, then a batch `format("kafka")` read of the real broker.
        Kafka cannot push a predicate down, so every read scans the topic;
        only a rerun batch reads it."""
        if self.kafka_record_reader is not None:
            src = self.kafka_record_reader(topic)
        else:
            try:
                src = (
                    self.store.spark.read.format("kafka")
                    .option("kafka.bootstrap.servers", self.bootstrap_servers)
                    .option("subscribe", topic)
                    .option("startingOffsets", "earliest")
                    .option("kafka.isolation.level", "read_committed")
                    .option("includeHeaders", "true")
                    .load()
                )
                # `.load()` is lazy: with the connector present but the
                # broker unreachable, failure would otherwise surface at
                # action time and FAIL the batch instead of engaging the
                # progress-cursor fallback, so probe eagerly here
                src.limit(1).isEmpty()
            except Exception:
                # connector absent / broker unreadable: producing the whole
                # rerun batch is SAFE (never loses), just at-least-once
                return None
        hdr = lambda n: F.expr(  # noqa: E731
            f"decode(filter(headers, h -> h.key = '{n}')[0].value, 'UTF-8')"
        ).cast("long")
        return src.select(hdr("lsn").alias("lsn"), hdr("id").alias("id"))

    def replicate_all(self, available_now: bool = True) -> list[Drain]:
        """One query per discovered `_events` table (S7/F2 + per-topic workers)."""
        return [self.replicate(t, available_now) for t in self.store.topics()]

    def lag(self, topic: str) -> int:
        """WAL-distance analog: MAX(lsn) − replicated cursor (A1)."""
        cursor = self.progress.last_cursor(topic) or Cursor.zero()
        return self.store.lag(topic, cursor)
