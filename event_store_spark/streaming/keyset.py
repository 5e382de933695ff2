"""Keyset batches: the one batch loop of the event-log consumers (X2/X3).

The reference's replicator is a keyset loop, ``WHERE (lsn, id) > cursor
ORDER BY lsn, id LIMIT n`` (`EventReplicatorWorker.java:66-72`), and a
deterministic batch over replayable input needs no state beyond its
input position (*Discretized Streams*). `Replicator` and the files
`Subscription` run that loop over the topic's commit log, with no
streaming query and no checkpoint:

- **The plan.** Every log line carries its file's row count and (lsn,
  id) low and high (`EventStore.log_files`). A batch is the files whose
  high is past the consumer's cursor (`core.store.plan`, the rule a
  keyset read, ``read_events(after=)``, applies too). ``max_files`` caps
  it at the files with the smallest highs; the largest of those is the
  batch's high water ``hi``, and every other file whose low is at or
  below ``hi`` joins it, so overlapping compacted files stay correct. The
  batch's rows are its files' rows in (cursor, hi]. ``hi`` comes from the
  log, the topic's only record, so a batch never covers a row that is
  not yet visible.
- **One crash rule.** Before its first side effect, the consumer records
  the batch as ``pending`` (its id and ``hi``) in its bookkeeping entry,
  one atomic write (`core.state`). Then it writes, and then it commits
  ``cursor = hi``, which clears the plan. A start that finds a pending
  batch reruns exactly (cursor, pending] under the same batch id, so the
  rerun writes the same rows to the same place and hands a processor the
  same rows and the same id.
- **The handle.** `Drain` answers what a `StreamingQuery` does:
  ``awaitTermination`` (re-raising a batch's failure), ``stop``,
  ``isActive``, ``lastProgress`` and ``recentProgress``, one record per
  batch. An availableNow drain runs the batches the log holds at its
  start before it returns; otherwise a daemon thread polls the log, and
  a poll with no new files costs a driver-side log read and no Spark job.
"""

from __future__ import annotations

import collections
import threading
import time
from collections.abc import Callable

from pyspark.sql import DataFrame

from event_store_spark.core.cursor import keyset_after
from event_store_spark.core.store import Batch, EventStore, LoggedFile, plan

#: seconds a polling drain waits after a poll that found no new files
POLL_SECONDS = 0.1
#: progress records a drain keeps, as Spark's
#: ``spark.sql.streaming.numRecentProgressUpdates`` default
RECENT_PROGRESS = 100


#: ``apply(df, rows, batch_id, batch, rerun)``: a consumer's side effects
#: for one batch, ending with the commit of ``batch.hi``; ``df`` is None
#: when the batch has no rows, and ``rerun`` says the batch was pending
Apply = Callable[[DataFrame | None, int, int, Batch, bool], None]


class Drain:
    """One consumer's run over ``topic``: keyset batches of at most
    ``max_files`` files, each handed to ``apply``, with ``book`` (a
    `ProgressStore` or `OffsetsTable`) holding the cursor and the
    pending plan."""

    def __init__(self, store: EventStore, topic: str, book, apply: Apply,
                 max_files: int | None, available_now: bool):
        self.store, self.topic, self.book, self.apply = store, topic, book, apply
        self.max_files = max_files
        self._progress: collections.deque[dict] = collections.deque(maxlen=RECENT_PROGRESS)
        self._error: Exception | None = None
        self._stop = threading.Event()
        self._thread = None if available_now else threading.Thread(
            target=self._run, args=(True,), name=f"keyset-{topic}", daemon=True
        )
        if self._thread is None:
            self._run(poll=False)
        else:
            self._thread.start()

    def _run(self, poll: bool) -> None:
        try:
            while not self._stop.is_set():
                t0 = time.perf_counter()
                files = self.store.log_files(self.topic)
                ran = False
                while not self._stop.is_set() and self._batch(files, t0):
                    ran, t0 = True, time.perf_counter()
                if not poll:
                    return
                if not ran:
                    self._stop.wait(POLL_SECONDS)
        except Exception as e:  # re-raised by awaitTermination
            self._error = e

    def _batch(self, files: list[LoggedFile], t0: float) -> bool:
        """Plan, record and apply the next batch; False if there is none."""
        after, batch_id, pending = self.book.position(self.topic)
        batch = plan(files, after, self.max_files, pending)
        if batch is None:
            return False
        t1 = time.perf_counter()
        if pending is None:
            self.book.plan(self.topic, batch_id, batch.hi)
        t2 = time.perf_counter()
        df = self.store.read_files(self.topic, batch.paths).where(
            keyset_after(after) & ~keyset_after(batch.hi)
        ) if batch.paths else None
        rows = batch.rows if batch.rows is not None else df.count()
        self.apply(df if rows else None, rows, batch_id, batch, pending is not None)
        t3 = time.perf_counter()
        ms = lambda a, b: round((b - a) * 1000, 3)  # noqa: E731
        self._progress.append({
            "batchId": batch_id, "numInputRows": rows, "numFiles": len(batch.paths),
            "startOffset": after.serialize(), "endOffset": batch.hi.serialize(),
            "durationMs": {"latestOffset": ms(t0, t1), "walCommit": ms(t1, t2),
                           "addBatch": ms(t2, t3), "triggerExecution": ms(t0, t3)},
        })
        return True

    def awaitTermination(self, timeout: float | None = None) -> bool | None:  # noqa: N802
        """Wait for the drain to end; re-raise the failure of a batch."""
        if self._thread is not None:
            self._thread.join(timeout)
        if self._error is not None:
            raise self._error
        return None if timeout is None else not self.isActive

    def stop(self) -> None:
        """Stop polling; a batch in flight finishes first."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join()

    @property
    def isActive(self) -> bool:  # noqa: N802
        return self._thread is not None and self._thread.is_alive()

    @property
    def lastProgress(self) -> dict | None:  # noqa: N802
        return self._progress[-1] if self._progress else None

    @property
    def recentProgress(self) -> list[dict]:  # noqa: N802
        return list(self._progress)
