"""Replicate: exactly-once, commit-order replication of event tables (X2).

Re-expresses the reference's Postgres→Kafka replicator
(`EventReplicator.java` + `EventReplicatorWorker.java`):

| reference | here |
|---|---|
| keyset scan `WHERE lsn IS NOT NULL AND (lsn,id) > cursor ORDER BY lsn,id LIMIT n` (`EventReplicatorWorker.java:66-72`) | streaming micro-batches; `maxFilesPerTrigger` bounds batch size (O2) |
| Kafka txn {events + cursor} (`:184-208`) | lineage-aware idempotent `foreachBatch` — see Exactness below |
| record shape: key/value/ts + headers incl. `id`,`lsn`, sorted (T7/O4, `:187-230`) | outbound projection with `headers: array<struct<key,value>>` canonically sorted |
| compacted progress topic, last-write-wins (S9, `EventReplicator.java:215-256`) | :class:`ProgressStore` (atomic JSON; Delta/DB in prod) |
| per-topic worker threads (`:174-183`) | one streaming query per topic |
| advisory-lock single writer (X4, `LockManager.java:45-84` + `LockMonitor.java:52-58`) | :class:`streaming.lock.LockManager` lease: acquire at query start (second writer refused), heartbeat per micro-batch, query failure on loss |

Exactness (X2). Appends are atomic to every reader: a topic's rows become
visible through one entry of its commit log (`core.store`), and the file
source picks files up in log order, so micro-batches carry whole appends
in commit order. Exactly-once across crashes rests on the checkpoint
lineage:

- **Live lineage** (the streaming checkpoint that produced the stored
  bookkeeping is still in use): the file source's seen-files map already
  delivers every file exactly once, batches replayed after a crash are
  skipped by `streaming.eos.applied` (a stored batch id counts only in
  the lineage that stored it), and the files sink overwrites a directory
  keyed by the batch's own high water — no row filter at all. The
  progress cursor is monotone (`max` over batch high waters) bookkeeping
  for lag/resume, not a correctness gate.
- **Recovery lineage** (fresh or lost checkpoint; batch ids restart and the
  source relists every file): the files sink anti-joins each batch against
  the target's existing (lsn, id) pairs (scan bounded by the batch's lsn
  range, pushed to footer stats) — already-replicated rows and orphan
  directories from a crashed run are ABSORBED, never pruned, so a crash
  between a directory write and the progress save cannot lose or duplicate
  regardless of how the rerun re-chunks batches. The kafka sink filters by
  the cursor FROZEN at query start (at-least-once re-production past it;
  the consumer's keyset dedupe drops what the broker already has).

Scale: replication never globally sorts — micro-batches arrive in append
(lsn) order from the file source (the commit log orders file pickup) and
`sortWithinPartitions` restores the within-batch (lsn, id) order cheaply.
Downstream consumers that need total order replay via `(lsn, id)` exactly
like the reference's consumers. The live path does no per-batch filtering
or target reads; the recovery anti-join is the only extra cost and only
while a lost checkpoint is being re-established.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from event_store_spark.core.cursor import Cursor, keyset_after
from event_store_spark.core.envelope import canonical_metadata_entries
from event_store_spark.core.state import ProgressStore
from event_store_spark.core.store import EventStore
from event_store_spark.streaming.eos import applied
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
    """Exactly-once replication of one or more event tables to record tables."""

    def __init__(
        self,
        store: EventStore,
        target_root: str,
        progress: ProgressStore,
        checkpoint_root: str,
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
        self.checkpoint_root = checkpoint_root
        self.max_files_per_trigger = max_files_per_trigger
        self.sink = sink
        self.bootstrap_servers = bootstrap_servers
        self.lock = lock
        #: injection seam for broker-less contract tests / custom producers:
        #: a callable receiving each batch's (key, value, headers) sink
        #: frame; when set, the kafka branch calls it instead of
        #: `.write.format("kafka").save()` — everything upstream (keyset
        #: filter, record projection, cursor save) runs unchanged.
        self.kafka_record_sink = kafka_record_sink
        #: recovery read-back (closes the kafka duplicate window): a
        #: callable `(topic) -> DataFrame` returning the target topic's
        #: existing records in the `format("kafka")` SOURCE schema. When
        #: set, recovery-mode batches anti-join against the (lsn, id)
        #: pairs already ON the broker — the same absorption the files
        #: sink does against its target — so even foreign read_committed
        #: consumers see every event exactly once across checkpoint loss
        #: (and a crash MID-produce converges: only the missing rows
        #: re-produce). When unset and bootstrap_servers names a real
        #: broker, the default reader is a batch `format("kafka")` read of
        #: the topic; frozen-cursor at-least-once remains the fallback
        #: when the target topic cannot be read at all.
        self.kafka_record_reader = kafka_record_reader

    def target_path(self, topic: str) -> str:
        return f"{self.target_root}/{topic}"

    def replicate(self, topic: str, available_now: bool = True) -> StreamingQuery:
        spark = self.store.spark
        path = self.store.topic_path(topic)
        if self.lock is not None and not self.lock.acquire():
            # X4: refuse to start a second writer (LockManager.java:45-84 —
            # pg_try_advisory_lock returning false)
            raise RuntimeError(
                "another replicator instance holds the lock; refusing to "
                "start a second writer (X4)"
            )
        ckpt_id, recovery = self._adopt_lineage(topic)
        # frozen at query start: the cursor the previous lineage reached,
        # which the recovery filters measure the relisted backlog against
        start_cursor = self.progress.last_cursor(topic) or Cursor.zero()
        reader = spark.readStream.schema(self.store.event_schema(topic))
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        stream = reader.parquet(path)

        def sink(df: DataFrame, batch_id: int) -> None:
            if self.lock is not None and not self.lock.heartbeat():
                # lock lost mid-run (lease stolen after an apparent death):
                # fail the query before writing — the streaming analog of
                # LockMonitor's exit(1) (`LockMonitor.java:52-58`, X6)
                raise RuntimeError("replicator lock lost; failing query (X4/X6)")
            held = (
                self.progress.last_ckpt_id(topic),
                self.progress.last_batch_id(topic),
            )
            if applied(held, ckpt_id, batch_id):
                return  # redelivered batch whose commit record already landed
            saved_cursor = self.progress.last_cursor(topic) or Cursor.zero()
            batch = df
            if recovery and self.sink == "kafka":
                # bulk-exclude what the broker already has; anything past
                # the frozen cursor re-produces at-least-once (F1)
                batch = df.where(keyset_after(start_cursor))
            # cache so the high-water agg and the write evaluate the
            # (maxFilesPerTrigger-bounded) batch once, not twice
            staged = to_kafka_records(batch).sortWithinPartitions("lsn", "id").persist()
            records = staged
            try:
                if recovery and self.sink == "files":
                    records = self._absorb_existing(topic, staged)
                elif recovery and self.sink == "kafka":
                    records = self._absorb_broker(topic, staged)
                hw = records.agg(F.max(F.struct("lsn", "id"))).first()[0]
                if records is staged:
                    hw_all = hw
                else:
                    # absorbed rows are replicated too (they're in the
                    # target) — the bookkeeping cursor must cover them or
                    # the lag gauge never clears after a recovery
                    hw_all = staged.agg(F.max(F.struct("lsn", "id"))).first()[0]
                advance = (
                    max(saved_cursor, Cursor(hw_all["lsn"], hw_all["id"]))
                    if hw_all is not None
                    else saved_cursor
                )
                if hw is None:
                    # nothing new to write (redelivery of fully-replicated
                    # data, or an empty trigger) — record the bookkeeping
                    self.progress.save(
                        topic, advance, batch_id=batch_id, ckpt_id=ckpt_id
                    )
                    return
                new_cursor = Cursor(hw["lsn"], hw["id"])
                if self.sink == "kafka":
                    # Broker-native path (S2/S3): produce (key, value,
                    # headers) records. The reference wraps events + the
                    # progress record in ONE Kafka transaction
                    # (`EventReplicatorWorker.java:184-208`); Spark's Kafka
                    # sink is at-least-once, so exactly-once is restored on
                    # the consumer side by the (lsn, id) header cursor —
                    # redelivered records carry an already-seen cursor and
                    # are dropped by Subscription's per-partition keyset
                    # filter (`subscribe.Subscription._kafka_process_and_offset`,
                    # F1) before any projection runs.
                    from event_store_spark.streaming.kafka import (
                        kafka_writer_options,
                        records_to_kafka_sink,
                    )

                    out = records_to_kafka_sink(records)
                    if self.kafka_record_sink is not None:
                        self.kafka_record_sink(out)
                    else:
                        (
                            out.write.format("kafka")
                            .options(
                                **kafka_writer_options(self.bootstrap_servers, topic)
                            )
                            .save()
                        )
                else:
                    # The directory is keyed by the batch's OWN high water —
                    # a crash between this write and the progress save
                    # redelivers the same row range, which OVERWRITES the
                    # same directory (the Spark-file analog of the
                    # reference's Kafka transaction). An orphan left by a
                    # run whose checkpoint was then lost is ABSORBED by the
                    # recovery anti-join, never duplicated: a surviving
                    # batch can't share an orphan's name, because sharing
                    # the max row means the anti-join already removed it.
                    records.write.mode("overwrite").parquet(
                        f"{self.target_path(topic)}/cursor={new_cursor.serialize().replace(':', '_')}"
                    )
                self.progress.save(
                    topic, advance, batch_id=batch_id, ckpt_id=ckpt_id
                )
            finally:
                staged.unpersist()

        writer = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", f"{self.checkpoint_root}/{topic}")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def _adopt_lineage(self, topic: str) -> tuple[str, bool]:
        """Identify the streaming checkpoint's lifetime and decide the run
        mode. A marker INSIDE the checkpoint dir (so it dies with it) names
        the lineage; progress records which lineage produced its bookkeeping.
        Mismatch ⇒ batch ids are incomparable and the source will relist
        every file ⇒ the run stays in recovery mode (anti-join absorption /
        frozen-cursor filter) for its whole lifetime — flipping modes
        mid-run would re-replicate the relisted backlog. A brand-new
        pipeline (no progress, no target data) adopts the lineage
        immediately and runs live."""
        from event_store_spark.streaming.lineage import checkpoint_lineage_id

        ckpt_id = checkpoint_lineage_id(f"{self.checkpoint_root}/{topic}")
        recovery = self.progress.last_ckpt_id(topic) != ckpt_id
        if (
            recovery
            and self.progress.last_cursor(topic) is None
            and not self._target_has_data(topic)
        ):
            self.progress.save(topic, Cursor.zero(), batch_id=None, ckpt_id=ckpt_id)
            recovery = False
        return ckpt_id, recovery

    def _target_has_data(self, topic: str) -> bool:
        target = self.target_path(topic)
        return os.path.isdir(target) and any(EventStore._parquet_files(target))

    def _absorb_existing(self, topic: str, records: DataFrame) -> DataFrame:
        """Recovery-mode exactness for the files sink: drop batch rows whose
        (lsn, id) already exists in the target — order-independent, so it
        holds however the rerun re-chunks the relisted backlog, and it absorbs orphan directories from crashed runs as committed data.
        The target scan is bounded by the batch's lsn range (pushed to
        parquet footer stats, which the cursor-range-named directories keep
        tight), and reads only the two join columns."""
        if not self._target_has_data(topic):
            return records
        bounds = records.agg(
            F.min("lsn").alias("lo"), F.max("lsn").alias("hi")
        ).first()
        if bounds.lo is None:
            return records
        existing = (
            self.store.spark.read.parquet(self.target_path(topic))
            .where((F.col("lsn") >= bounds.lo) & (F.col("lsn") <= bounds.hi))
            .select("lsn", "id")
        )
        return records.join(existing, ["lsn", "id"], "left_anti")

    def _broker_records(self, topic: str):
        """The target topic's existing records (kafka SOURCE schema), or
        None when the topic cannot be read — injected reader first, then
        a batch `format("kafka")` read of the real broker."""
        if self.kafka_record_reader is not None:
            return self.kafka_record_reader(topic)
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
            # `.load()` is lazy: with the connector present but the broker
            # unreachable, failure would otherwise surface at action time
            # inside `_absorb_broker`'s anti-join and FAIL the recovery
            # batch instead of engaging the frozen-cursor fallback. Force a
            # cheap eager probe here so unreadability is detected where the
            # fallback can still catch it (ADVICE r7).
            src.limit(1).isEmpty()
            return src
        except Exception:
            # connector absent / broker unreadable: the frozen-cursor
            # at-least-once fallback is SAFE (never loses), just wider
            return None

    def _absorb_broker(self, topic: str, records: DataFrame) -> DataFrame:
        """Recovery-mode exactness for the KAFKA sink (the `_absorb_existing`
        pattern pointed at the broker): drop batch rows whose (lsn, id) is
        already on the target topic, read back from its (lsn, id) headers —
        order-independent, so it absorbs a crash MID-produce too (only the
        rows that never landed re-produce; a torn batch converges with zero
        duplicates instead of re-producing whole). The read is bounded to
        the batch's lsn range after decode (Kafka cannot push the predicate,
        so recovery re-reads the topic — a recovery-only cost, same trade
        the reference makes reading its progress topic start-to-end). Falls
        back to the frozen-cursor filter (bounded at-least-once, see
        MIGRATION.md) when the topic cannot be read."""
        src = self._broker_records(topic)
        if src is None:
            return records
        bounds = records.agg(
            F.min("lsn").alias("lo"), F.max("lsn").alias("hi")
        ).first()
        if bounds.lo is None:
            return records
        hdr = lambda n: F.expr(  # noqa: E731
            f"decode(filter(headers, h -> h.key = '{n}')[0].value, 'UTF-8')"
        ).cast("long")
        existing = (
            src.select(hdr("lsn").alias("lsn"), hdr("id").alias("id"))
            .where((F.col("lsn") >= bounds.lo) & (F.col("lsn") <= bounds.hi))
        )
        return records.join(existing, ["lsn", "id"], "left_anti")

    def replicate_all(self, available_now: bool = True) -> list[StreamingQuery]:
        """One query per discovered `_events` table (S7/F2 + per-topic workers)."""
        return [self.replicate(t, available_now) for t in self.store.topics()]

    def lag(self, topic: str) -> int:
        """WAL-distance analog: MAX(lsn) − replicated cursor (A1)."""
        cursor = self.progress.last_cursor(topic) or Cursor.zero()
        return self.store.lag(topic, cursor)
