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
in commit order. Exactly-once across crashes rests on one rule per
checkpoint lineage, `streaming.eos.floor`:

- **The floor.** A lineage's start records the cursor at or below which
  rows may already be in the target: the larger of the progress cursor
  and the target's own high water (the highest ``cursor=`` directory
  name, read as the end of its lsn, or unbounded if it does not parse;
  for the kafka sink, the broker's highest (lsn, id) when the topic can
  be read). A brand-new pipeline gets floor zero. Once progress is saved
  under the lineage, every restart on the checkpoint reuses the recorded
  floor, so a crash inside a recovery cannot turn it into a live run.
- **One path per batch.** A batch the progress store already holds for
  this lineage is skipped (`streaming.eos.applied`). One aggregate gives
  the batch's lowest and highest (lsn, id) and its count. The batch's
  floor is the larger of the lineage's floor and the progress cursor,
  since rows at or below the cursor were replicated already and come
  back when `EventStore.compact` rewrites them under new file paths.
  Rows above it overwrite a directory keyed by their own high water: a crash
  before the progress save redelivers the same rows, which overwrite the
  same directory, and the name is above every directory an earlier
  lineage left. Rows at or below the floor are anti-joined against the
  target's (lsn, id) pairs (scan bounded by their lsn range, pushed to
  footer stats) and only the missing ones are written, appended to the
  directory named by their high water, so orphans of a crashed run are
  absorbed, never replaced, however the rerun re-chunks the backlog.
  The kafka sink splits the same way: rows above the floor are produced;
  rows at or below it are anti-joined against the broker's headers, or,
  when the topic cannot be read, produced past the progress cursor
  (at-least-once; the consumer's keyset dedupe drops what the broker
  already has).
- The progress cursor is monotone (`max` over batch high waters)
  bookkeeping for lag and for the next lineage's floor.

Scale: replication never globally sorts — micro-batches arrive in append
(lsn) order from the file source (the commit log orders file pickup) and
`sortWithinPartitions` restores the within-batch (lsn, id) order cheaply.
Downstream consumers that need total order replay via `(lsn, id)` exactly
like the reference's consumers. A batch above the floor does no target
read; the anti-join is the only extra cost and only while a lost
checkpoint's backlog is relisted.
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
from event_store_spark.streaming import eos
from event_store_spark.streaming.lock import LockManager

#: the floor a target directory name that does not parse gives: above
#: every row, so each row is checked against the target
UNBOUNDED = Cursor(2**63 - 1, 2**63 - 1)


def _dir_cursor(name: str) -> Cursor:
    """The cursor a target directory ``cursor=<lsn>_<id>`` bounds: the
    end of its lsn, since a crashed run's directory name is no bound on
    the ids of its rows."""
    try:
        lsn, id_ = name[len("cursor="):].split("_")
        int(id_)
        return Cursor(int(lsn), UNBOUNDED.id)
    except ValueError:
        return UNBOUNDED


def _absent(records: DataFrame, existing: DataFrame, lo: int, hi: int) -> DataFrame:
    """The rows of ``records`` (lsn ``lo``..``hi``) whose (lsn, id) is not
    in the ``existing`` (lsn, id) frame, which is read only in that lsn
    range: order-independent, so it holds however a rerun re-chunks the
    relisted backlog. On parquet the range pushes down to footer stats,
    which the cursor-named directories keep tight."""
    existing = existing.where(F.col("lsn").between(lo, hi))
    return records.join(existing, ["lsn", "id"], "left_anti")


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
        #: existing records in the `format("kafka")` SOURCE schema. A new
        #: lineage's floor covers the broker's highest (lsn, id), and rows
        #: at or below the floor anti-join against the (lsn, id) pairs
        #: already ON the broker — the same absorption the files sink does
        #: against its target — so even foreign read_committed consumers
        #: see every event exactly once across checkpoint loss (and a
        #: crash MID-produce converges: only the missing rows re-produce).
        #: When unset and bootstrap_servers names a real broker, the
        #: default reader is a batch `format("kafka")` read of the topic;
        #: producing past the progress cursor (at-least-once) remains the
        #: fallback when the target topic cannot be read at all.
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
        lineage, floor = eos.floor(
            f"{self.checkpoint_root}/{topic}",
            self.progress.last_ckpt_id(topic),
            lambda: self._replicated_to(topic),
        )
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
            if eos.applied(held, lineage, batch_id):
                return  # redelivered batch whose commit record already landed
            done = self.progress.last_cursor(topic) or Cursor.zero()
            # rows at or below the committed cursor may be in the target
            # too: a compaction relists them under new file paths
            low = max(floor, done)
            # cache so the aggregate and the writes evaluate the
            # (maxFilesPerTrigger-bounded) batch once, not twice
            staged = to_kafka_records(df).sortWithinPartitions("lsn", "id").persist()
            try:
                lo, hi, n = staged.agg(
                    F.min(F.struct("lsn", "id")),
                    F.max(F.struct("lsn", "id")),
                    F.count(F.lit(1)),
                ).first()
                if n:
                    top = Cursor(hi["lsn"], hi["id"])
                    if Cursor(lo["lsn"], lo["id"]) <= low:
                        self._write_missing(
                            topic,
                            staged.where(~keyset_after(low)),
                            lo["lsn"],
                            min(top, low).lsn,
                            done,
                        )
                    if top > low:
                        self._write_new(topic, staged.where(keyset_after(low)), top)
                    done = max(done, top)
                self.progress.save(topic, done, batch_id=batch_id, ckpt_id=lineage)
            finally:
                staged.unpersist()

        writer = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", f"{self.checkpoint_root}/{topic}")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def _dir(self, topic: str, cursor: Cursor) -> str:
        return f"{self.target_path(topic)}/cursor={cursor.serialize().replace(':', '_')}"

    def _replicated_to(self, topic: str) -> Cursor | None:
        """Where an earlier lineage may have replicated ``topic`` to (None:
        nowhere, a brand-new pipeline): the progress cursor, or past it
        the target's own high water. For the files sink that is the
        highest ``cursor=`` directory name, and a name that does not parse
        bounds nothing; for the kafka sink, the broker's highest (lsn, id)
        when the target topic can be read."""
        done = self.progress.last_cursor(topic)
        if self.sink == "kafka":
            pairs = self._broker_pairs(topic) if done else None
            if pairs is None:
                return done
            top = pairs.agg(F.max(F.struct("lsn", "id"))).first()[0]
            return max(done, Cursor(top["lsn"], top["id"])) if top else done
        base = self.target_path(topic)
        names = os.listdir(base) if os.path.isdir(base) else []
        marks = [_dir_cursor(n) for n in names if n.startswith("cursor=")]
        return max([done] + marks if done else marks, default=None)

    def _write_new(self, topic: str, records: DataFrame, top: Cursor) -> None:
        """Rows above the floor, whose high water is ``top``."""
        if self.sink == "kafka":
            self._produce(topic, records)
        else:
            # The directory is keyed by the rows' OWN high water — a crash
            # between this write and the progress save redelivers the same
            # row range, which OVERWRITES the same directory (the
            # Spark-file analog of the reference's Kafka transaction). Its
            # name is above the floor, which is at or above every name an
            # earlier lineage left, so it never replaces their rows.
            records.write.mode("overwrite").parquet(self._dir(topic, top))

    def _write_missing(
        self, topic: str, records: DataFrame, lo: int, hi: int, done: Cursor
    ) -> None:
        """Rows at or below the floor (lsn ``lo``..``hi``): write those
        the target lacks, replacing nothing. The files sink appends them
        to the directory named by their high water, which is at or below
        the floor, so no live write of this lineage can overwrite it; the
        kafka sink produces them. When the broker cannot be read, it
        produces the rows past ``done``, the progress cursor, instead:
        at-least-once, never a loss (MIGRATION.md)."""
        if self.sink == "kafka":
            pairs = self._broker_pairs(topic)
            missing = (
                records.where(keyset_after(done))
                if pairs is None
                else _absent(records, pairs, lo, hi)
            )
            if not missing.isEmpty():
                self._produce(topic, missing)
            return
        target = self.target_path(topic)
        os.makedirs(target, exist_ok=True)
        existing = self.store.spark.read.schema("lsn long, id long").parquet(target)
        missing = _absent(records, existing.select("lsn", "id"), lo, hi)
        top = missing.agg(F.max(F.struct("lsn", "id"))).first()[0]
        if top is not None:
            missing.write.mode("append").parquet(
                self._dir(topic, Cursor(top["lsn"], top["id"]))
            )

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
        only a lineage's start and its batches at or below the floor read
        it."""
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
                # connector absent / broker unreadable: the progress-cursor
                # at-least-once fallback is SAFE (never loses), just wider
                return None
        hdr = lambda n: F.expr(  # noqa: E731
            f"decode(filter(headers, h -> h.key = '{n}')[0].value, 'UTF-8')"
        ).cast("long")
        return src.select(hdr("lsn").alias("lsn"), hdr("id").alias("id"))

    def replicate_all(self, available_now: bool = True) -> list[StreamingQuery]:
        """One query per discovered `_events` table (S7/F2 + per-topic workers)."""
        return [self.replicate(t, available_now) for t in self.store.topics()]

    def lag(self, topic: str) -> int:
        """WAL-distance analog: MAX(lsn) − replicated cursor (A1)."""
        cursor = self.progress.last_cursor(topic) or Cursor.zero()
        return self.store.lag(topic, cursor)
