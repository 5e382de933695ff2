"""Exactly-once streaming sinks: the one owner of "already applied"
(SURVEY §2.8 X2/X3).

The reference gets exactly-once by committing its cursor in the same
Kafka transaction as the data (`EventReplicatorWorker.java:184-208`) and
by caller-composed DB transactions wrapping projection+offset
(`ReactorKafkaEventStore.java:214-246`). Spark's sinks have no
cross-system transactions, so the engine uses Structured Streaming's
pattern instead: a replayable source, the checkpoint's write-ahead
offset log, and a sink that is idempotent per batch id. A batch id
means something only inside ONE checkpoint, though: a lost checkpoint
restarts ids at 0 while a file source relists every file. So every sink
keeps a ledger of ``{lineage, batch_id}`` — the checkpoint's lineage
(`streaming.lineage`) and the last batch it applied — and this module
alone decides from it:

- `applied`: a batch at or below the ledger's id, in the ledger's
  lineage, is already applied and is skipped whole.
- `exactly_once`: the wrapper every derived sink runs its batches
  through. It reads the checkpoint's lineage once, at query start, and
  hands the batch a ``commit`` that writes the ledger through
  `generations.write_pointer` as the batch's commit point: its last
  write, or the ``_CURRENT`` flip of a `VersionedTable`, whose pointer
  carries the ledger. A sink with no ledger gets ``{lineage, -1}`` at
  query start, so its artifact holds nothing committed until its first
  batch commits. Maintenance after the commit (segment folds, version
  GC) is never needed by a replay.
- One rule for a lineage the ledger has not seen: raise, before the
  query starts, naming the checkpoint and the artifact. Never skip,
  never duplicate, never rebuild silently: only a file source
  guarantees that a fresh checkpoint replays all history, so an
  automatic rebuild could drop history. The artifact is derived, so
  deleting it (and its checkpoint) rebuilds it from the source.

The files `Replicator` and `Subscription` are no streaming queries and
keep no ledger: they batch by (lsn, id) keyset over the event log and
rerun a planned, uncommitted batch exactly (`streaming.keyset`). The
Kafka-source `Subscription` records its checkpoint's `lineage` with each
offsets commit and skips batches by `applied` too; its per-partition
(lsn, id) cursors make a new lineage's redelivered backlog harmless.

The boundary is the commit: a sink's writes before it must be
idempotent per batch (overwrite under the batch id), because a crash
between them and the commit reruns the batch.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from event_store_spark.plans import generations
from event_store_spark.streaming.lineage import checkpoint_lineage_id

#: ``apply(df, batch_id, commit)``: runs a batch not yet applied and
#: calls ``commit(*payload)`` as its commit point
Apply = Callable[[DataFrame, int, Callable[..., None]], None]

def applied(held: tuple | None, lineage: str, batch_id: int) -> bool:
    """The one "already applied" rule: ``held``, the ``(lineage,
    batch_id)`` a sink recorded last (None, or a None id, before its
    first batch), covers batch ``batch_id`` of ``lineage``."""
    return (
        held is not None
        and held[0] == lineage
        and held[1] is not None
        and batch_id <= held[1]
    )


def lineage(checkpoint: str) -> str:
    """The lineage of ``checkpoint``, for a consumer that keeps its own
    ``(lineage, batch_id)`` bookkeeping (the Kafka-source `Subscription`)
    and decides with `applied`."""
    return checkpoint_lineage_id(checkpoint)


def exactly_once(
    checkpoint: str, ledger: str, apply: Apply
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch function of a sink whose ledger file is
    ``ledger``, for a query on ``checkpoint``. Raises at once if the
    ledger holds another checkpoint's batches."""
    lineage = checkpoint_lineage_id(checkpoint)
    held = generations.read_ledger(ledger)
    artifact = os.path.dirname(ledger)
    if held is not None and held[0] != lineage:
        raise RuntimeError(
            f"{artifact} was written under another checkpoint than "
            f"{checkpoint}: batch ids of two checkpoints are incomparable, "
            "so its batches can be neither skipped nor reapplied. Restore "
            f"that checkpoint, or delete {artifact} to rebuild it from the "
            "source."
        )
    os.makedirs(artifact, exist_ok=True)
    if held is None:
        generations.write_pointer(ledger, f"{lineage} -1")

    def fn(df: DataFrame, batch_id: int) -> None:
        if applied(generations.read_ledger(ledger), lineage, batch_id):
            return
        apply(
            df,
            batch_id,
            lambda *payload: generations.write_pointer(
                ledger, " ".join((lineage, str(batch_id), *payload))
            ),
        )

    return fn


def start(
    stream: DataFrame, checkpoint: str, ledger: str, apply: Apply
) -> StreamingQuery:
    """Run everything ``stream`` has now into a sink through
    `exactly_once` (availableNow). Update mode: a streaming aggregation
    emits the groups each batch touched, and any other query appends."""
    return (
        stream.writeStream.foreachBatch(exactly_once(checkpoint, ledger, apply))
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


class ExactlyOnceSink:
    """Base of a derived streaming sink: it sets ``checkpoint`` and
    ``ledger`` (its ledger file's path) and implements ``_apply`` (an
    `Apply`)."""

    def _merge(self, df: DataFrame, batch_id: int) -> None:
        """One batch through the wrapper, as the stream runs it."""
        exactly_once(self.checkpoint, self.ledger, self._apply)(df, batch_id)

    def start(self, stream: DataFrame) -> StreamingQuery:
        """Start (or resume) the sink's availableNow query over
        ``stream``."""
        return start(stream, self.checkpoint, self.ledger, self._apply)
