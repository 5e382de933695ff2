"""Subscribe: consumption with offsets-table exactly-once (X3).

Re-expresses `ReactorKafkaEventStore.subscribe` (reference:
`ReactorKafkaEventStore.java:233-246` + intended-usage doc :214-232): the
caller gets the topic's events batch by batch and composes per-batch
processing with an offset update so that a crash never skips work and
never re-runs a batch whose offset committed
(`ReactorKafkaEventStoreIT.java:262-317`). The residual window — crash
after the processor's external effects but before the offset commit —
re-runs that one batch, same rows and same batch id, so projections into
external systems must be idempotent per batch id; the reference avoids
the window by putting projection+offset in one DB transaction.

Files source: keyset batches over the topic's commit log
(`streaming.keyset`). A batch is the rows past the offsets table's cursor
in the files the log names, up to a high water taken from the files'
logged (lsn, id) bounds; the offsets entry records it as pending before
the processor runs and commits its high water and batch id after, in one
atomic update each. A restart reruns a pending batch exactly, and rows at
or below the cursor are never read again, so neither a crash nor
`EventStore.compact` redelivers a processed row. No checkpoint exists.
``max_files_per_trigger`` bounds a batch (the analog of the reference's
batched pulls, `EventReplicatorWorker.java:71,134`).

Kafka source: ``source="kafka"`` consumes a broker directly through
`streaming.kafka` (format("kafka") + offsets-table seek + read_committed)
in a Structured Streaming query, with the SAME decoded event shape, so a
processor is source-agnostic; its exactly-once rule is described in
:meth:`Subscription.run`.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from event_store_spark.core.cursor import Cursor, keyset_after
from event_store_spark.core.state import OffsetsTable
from event_store_spark.core.store import EventStore
from event_store_spark.streaming import eos
from event_store_spark.streaming.keyset import Batch, Drain


class Subscription:
    """Streaming consumption of one event table with offsets-table EOS."""

    def __init__(
        self,
        store: EventStore,
        offsets: OffsetsTable,
        checkpoint_root: str,
        max_files_per_trigger: int | None = None,
        source: str = "files",
        bootstrap_servers: str | None = None,
        partitions: list[int] | None = None,
        kafka_raw_source: Callable[[SparkSession], DataFrame] | None = None,
    ):
        if source not in ("files", "kafka"):
            raise ValueError("source must be 'files' or 'kafka'")
        if source == "kafka" and not bootstrap_servers:
            raise ValueError("kafka source requires bootstrap_servers")
        self.store = store
        self.offsets = offsets
        self.checkpoint_root = checkpoint_root
        self.max_files_per_trigger = max_files_per_trigger
        self.source = source
        self.bootstrap_servers = bootstrap_servers
        self.partitions = partitions or [0]
        #: injection seam for broker-less contract tests / custom connectors:
        #: a callable producing a STREAMING DataFrame with the exact
        #: `format("kafka")` source schema (KAFKA_SOURCE_SCHEMA); when set,
        #: the kafka branch decodes it through the identical
        #: kafka_source_to_records → from_kafka_records composition, so the
        #: whole EOS path below .load() is exercised without a broker.
        self.kafka_raw_source = kafka_raw_source

    def stream(self, topic: str) -> DataFrame:
        """Streaming DataFrame over the event table (decode-on-read, T6).

        ``source="kafka"`` consumes the broker directly: `format("kafka")`
        with read_committed isolation and `startingOffsets` seeked from the
        offsets table (S4/S5, `ReactorKafkaEventStore.java:233-291`);
        ``source="files"`` streams the parquet event table, for the
        caller's own streaming queries (`run` reads keyset batches
        instead). Both yield the same decoded event shape.
        """
        if self.source == "kafka":
            from event_store_spark.streaming.kafka import kafka_stream

            if self.kafka_raw_source is not None:
                from event_store_spark.streaming.kafka import kafka_source_to_records
                from event_store_spark.streaming.replicate import from_kafka_records

                return from_kafka_records(
                    kafka_source_to_records(self.kafka_raw_source(self.store.spark))
                )
            extra = {}
            if self.max_files_per_trigger:
                # O2 batching: the offset-count analog of maxFilesPerTrigger
                extra["maxOffsetsPerTrigger"] = str(self.max_files_per_trigger)
            return kafka_stream(
                self.store.spark,
                self.bootstrap_servers,
                topic,
                self.offsets,
                self.partitions,
                **extra,
            )
        path = self.store.topic_path(topic)
        reader = self.store.spark.readStream.schema(self.store.event_schema(topic))
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        return reader.parquet(path)

    def run(self, topic: str, processor: Callable[[DataFrame, int], None],
            available_now: bool = True) -> Drain | StreamingQuery:
        """Process the topic exactly once per batch.

        ``processor(batch_df, batch_id)`` is the user projection; after it
        returns, the offsets table records the batch's high-water (lsn, id)
        cursor and batch id in one atomic update.

        Files source: keyset batches over the topic's commit log
        (`streaming.keyset`). Before the processor runs, the offsets
        entry records the batch as pending (its id and high water); a
        restart that finds it reruns exactly that batch, the same rows
        under the same batch id, so a processor idempotent per batch id
        applies each event once. Batch ids count up across restarts, and
        the processor is never called with no rows. No checkpoint is read
        or written.

        Kafka source: a streaming query on ``checkpoint_root``. Spark's
        Kafka producer is at-least-once, so individual records can also be
        duplicated inside otherwise-new batches. The kafka branch therefore
        (a) skips a batch the offsets table already holds for the
        checkpoint's lineage (`streaming.eos.applied`), (b) filters each
        batch by the per-partition (lsn, id) keyset cursor BEFORE the
        processor runs — the consumer-side dedupe the replicator's sink
        relies on (F1) — and (c) stores REAL broker offsets per partition
        (max of the batch's offset column, duped records included: they
        were consumed) so a restart's seek(last+1) addresses actual broker
        positions, alongside the per-partition high-water (lsn, id) cursor
        for the next keyset filter. The dedupe cursor is per PARTITION, not
        global: Kafka only orders within a partition, so a lagging
        partition's fresh rows may carry smaller (lsn, id) than an advanced
        partition's cursor — a single topic-level cursor would wrongly
        drop them. Those cursors hold in every lineage, so a lost
        checkpoint redelivers nothing the processor has seen.
        """
        if self.source == "kafka":
            return self._run_kafka(topic, processor, available_now)

        def apply(df, rows: int, batch_id: int, batch: Batch, rerun: bool) -> None:
            if rows:
                processor(df, batch_id)
            # the stored offset is a 0-based running consumed-row index
            # (Kafka-offset semantics), making the lag gauge pure
            # arithmetic (A2)
            self.offsets.upsert(
                topic, self.offsets.get(topic) + rows, batch_id=batch_id, cursor=batch.hi
            )

        return Drain(self.store, topic, self.offsets, apply, self.max_files_per_trigger,
                     available_now)

    def run_records(self, topic: str, handler: Callable[..., None],
                    available_now: bool = True) -> Drain:
        """Per-RECORD consumption with per-event offset transactionality —
        the reference's record-level reactive path
        (`ReactorKafkaEventStore.subscribe` returning a Flux the app acks
        event by event, `ReactorKafkaEventStore.java:214-246`), where
        :meth:`run` is the micro-batch analog.

        Each event is delivered to ``handler(row)`` in total (lsn, id)
        replay order, and the offsets table commits THAT record's cursor
        before the next delivery — a crash (or handler exception) resumes
        at the exact record, not the batch boundary: every batch starts
        past the committed cursor, so already-handled rows never reach the
        handler again. The residual window is ONE event (crash between the
        handler's external effect and its cursor commit re-delivers that
        single record; the reference closes the same window by putting
        projection and offset in one DB transaction), so handlers project
        idempotently per event id. The per-record offset write is the
        honest cost of the contract — the reference pays a per-event
        transactional commit for the same guarantee.

        Sequential BY DESIGN: total-order per-record delivery is a single
        consumer (the reference's Flux is too), so the batch drains to the
        driver via ``toLocalIterator`` — ordered, one partition in flight.
        Use :meth:`run` for distributed projections. Files source only:
        the parquet event log carries the total (lsn, id) order this
        contract needs; the Kafka path orders per partition only. Use a
        dedicated OffsetsTable (consumer group) per consumption mode —
        record- and batch-mode consumers of one topic are distinct
        consumers, exactly as two Kafka groups are.
        """
        if self.source != "files":
            raise ValueError(
                "run_records requires the files source: per-record total "
                "order is the parquet event log's (lsn, id) contract"
            )

        def apply(df, rows: int, batch_id: int, batch: Batch, rerun: bool) -> None:
            prev = self.offsets.get(topic)
            for n, row in enumerate(
                df.orderBy("lsn", "id").toLocalIterator() if rows else (), 1
            ):
                handler(row)
                self.offsets.upsert(
                    topic, prev + n, batch_id=batch_id, cursor=Cursor(row["lsn"], row["id"])
                )
            self.offsets.upsert(topic, prev + rows, batch_id=batch_id, cursor=batch.hi)

        return Drain(self.store, topic, self.offsets, apply, self.max_files_per_trigger,
                     available_now)

    def _run_kafka(self, topic: str, processor: Callable[[DataFrame, int], None],
                   available_now: bool) -> StreamingQuery:
        """The Kafka source's streaming query on ``checkpoint_root``."""
        checkpoint = f"{self.checkpoint_root}/{topic}"
        lineage = eos.lineage(checkpoint)

        def process(df: DataFrame, batch_id: int) -> None:
            held = (self.offsets.last_ckpt_id(topic),
                    self.offsets.last_batch_id(topic))
            if eos.applied(held, lineage, batch_id):
                return  # redelivery after crash — effects already applied
            self._kafka_process_and_offset(topic, processor, df, batch_id, lineage)

        writer = (
            self.stream(topic)
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def _kafka_process_and_offset(self, topic: str, processor: Callable[[DataFrame, int], None],
                                  df: DataFrame, batch_id: int, lineage: str) -> None:
        """Kafka-branch batch step: keyset-dedupe, project, record offsets.

        partition/offset ride in the decoded event's metadata map (see
        `from_kafka_records`); they are lifted back to typed columns here.
        One persist, one pass for the per-partition stats; the offsets table
        commits every partition's position (real broker offset + (lsn, id)
        high water) plus the partition-0 batch id in ONE atomic write —
        a partial multi-write commit could skip the redelivered batch while
        leaving other partitions' cursors stale (ADVICE r3).
        """
        part = F.decode(F.col("metadata")["partition"], "UTF-8").cast("int")
        off = F.decode(F.col("metadata")["offset"], "UTF-8").cast("long")
        # dedupe cursors cover the CONFIGURED partitions plus every
        # partition the offsets table has ever recorded: a partition added
        # to the topic after configuration (broker repartition) is consumed
        # on first contact (no cursor -> vacuous pass), recorded, and then
        # dedupe-filtered on every later run even though the static list
        # doesn't know it
        known = set(self.partitions) | set(self.offsets.partitions(topic))
        cursors = {p: self.offsets.get_cursor(topic, p) for p in known}
        keep = F.lit(True)
        for p, cur in cursors.items():
            if cur is not None:
                # strictly past partition p's stored cursor (rows from other
                # partitions pass this clause vacuously)
                keep = keep & ((part != p) | keyset_after(cur))
        marked = (
            df.withColumn("_part", part)
            .withColumn("_off", off)
            .withColumn("_keep", keep)
            .persist()
        )
        try:
            fresh = (
                marked.where(F.col("_keep"))
                # producer-retry duplicates arriving within ONE batch carry
                # the same (lsn, id) at distinct broker offsets
                .dropDuplicates(["lsn", "id"])
                .drop("_part", "_off", "_keep")
            )
            processor(fresh, batch_id)
            stats = (
                marked.groupBy("_part")
                .agg(
                    # consumed broker position includes filtered duplicates —
                    # they WERE consumed; resume must not refetch them
                    F.max("_off").alias("off"),
                    F.max(F.when(F.col("_keep"), F.struct("lsn", "id"))).alias("hw"),
                )
                .collect()
            )
            rows = []
            seen = set()
            for row in stats:
                p = row["_part"]
                seen.add(p)
                prev = cursors.get(p) or self.offsets.get_cursor(topic, p)
                hw = row["hw"]
                cur = Cursor(hw["lsn"], hw["id"]) if hw is not None else prev
                rows.append((p, row["off"], batch_id, cur, lineage))
            if 0 not in seen:
                # no partition-0 rows this batch: preserve its position but
                # still record the batch id for redelivery skipping
                rows.append(
                    (
                        0,
                        self.offsets.get(topic, 0),
                        batch_id,
                        self.offsets.get_cursor(topic, 0),
                        lineage,
                    )
                )
            # all partitions + the batch id land in one atomic replace:
            # a crash either commits the whole batch (redelivery skipped)
            # or none of it (full redelivery, keyset filter dedupes)
            self.offsets.upsert_many(topic, rows)
        finally:
            marked.unpersist()

    def lag(self, topic: str) -> int:
        """Consumer lag (A2 analog): events appended beyond the last
        processed position — the sum of the row counts the topic's commit
        log names minus the consumed count (from the offsets table), both
        driver-side reads with no Spark job. The reference's gauge is
        likewise end-offset − processed − 2 (txn-marker correction,
        `ReactorKafkaEventStore.java:379-400`); without Kafka transaction
        markers the correction term is zero.

        File-source only: against Kafka the stored offsets are REAL broker
        positions and lag is broker end-offset − consumed, which needs the
        broker's end offsets (admin API), not the store's log."""
        if self.source == "kafka":
            raise ValueError(
                "lag gauge applies to the file source; Kafka lag = broker "
                "end offset - stored offset (query the broker admin API)"
            )
        _, total = self.store.committed(topic)
        consumed = self.offsets.get(topic) + 1  # stored as 0-based index
        return total - consumed


def kafka_starting_offsets(
    offsets: OffsetsTable, topic: str, partitions: list[int]
) -> str:
    """`startingOffsets` JSON for a Kafka source resuming from the offsets
    table — seek(lastOffset + 1) per partition (O5,
    `ReactorKafkaEventStore.java:270-278`). Offset −1 (nothing consumed)
    maps to Kafka's -2 ("earliest") sentinel.

    Usage with a real broker:
        spark.readStream.format("kafka")
             .option("subscribe", topic)
             .option("kafka.isolation.level", "read_committed")
             .option("startingOffsets", kafka_starting_offsets(...))
    (No broker or kafka-sql connector exists in this environment, so this
    builder is unit-tested and the file-source path is the integration-tested
    substrate; swapping sources changes nothing in the EOS composition.)
    """
    import json

    per_partition = {}
    for p in partitions:
        last = offsets.get(topic, p)
        per_partition[str(p)] = -2 if last < 0 else last + 1
    return json.dumps({topic: per_partition})
