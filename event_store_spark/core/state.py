"""Bookkeeping state: consumer offsets and replication progress cursors.

Re-expresses the reference's two bookkeeping relations:

- ``events.topic_offsets(topic, partition, offset)`` with offset initialized
  to −1 and resume at offset+1 (`topic_offsets.sql:1-9`,
  `ReactorKafkaEventStore.java:301-329`)  → :class:`OffsetsTable`
- the compacted progress topic ``_event_replicator_progress`` (key = topic,
  value = ``"lsn:id"`` cursor, last-write-wins, primed with a ``noop`` record
  — `EventReplicator.java:79,85,215-256`)  → :class:`ProgressStore`

Both are O(topics × partitions) rows by construction — bookkeeping, not
data — so a driver-side atomic JSON file (temp-write + os.replace) is the
local-mode analog of the reference's single Postgres table / single-partition
compacted topic. In a cluster deployment the same interface is backed by a
transactional table (Delta MERGE or a DB); the data plane never touches it
except once per micro-batch.

Both state files are safe for concurrent writers: every update is one
read-modify-write under the file's writer lease. An event topic keeps no
state file: its commit log (`core.store`) is its only record.
:class:`Lease` is the one single-writer lock protocol, and its docstring
describes it; :class:`TopicMutex` and `streaming.lock.LockManager` are
leases too.

Exactly-once composition: both stores record the ``batch_id`` that produced
each update and, between a keyset batch's plan and its commit, the
``pending`` batch (`streaming.keyset`): a restart reruns exactly that
batch, under the same id (the Spark-file answer to the reference's Kafka
transactions, SURVEY §2.8 X2/X3).
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
import time
import uuid
from collections.abc import Callable

from event_store_spark.core.cursor import Cursor

NOOP_KEY = "noop"  # progress-topic priming record parity (EventReplicator.java:85)


def atomic_write(path: str, text: str) -> None:
    """Replace ``path`` with ``text`` atomically and durably: a temp file in
    the same directory, fsync'd, then ``os.replace``d over the name, then a
    best-effort directory fsync. Readers see the old bytes or the new,
    never a torn file; a failure removes the temp file."""
    d = os.path.dirname(path) or "."
    fd, tmp = tempfile.mkstemp(dir=d, prefix=f".{os.path.basename(path)}.")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(text)
            # flush file DATA before the rename commits the name: on
            # journaled filesystems the rename metadata can land before
            # unsynced data, and a power loss then leaves a truncated
            # file that poisons every later read
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        # best-effort directory fsync so the rename itself is durable
        try:
            dfd = os.open(d, os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
        except OSError:
            pass
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


class Lease:
    """A single-writer lease on one file; its holder's token is the file's
    content. The one implementation of the protocol every single-writer
    lock here uses: the per-topic append mutex (:class:`TopicMutex`), the
    replicator lock (`streaming.lock.LockManager`) and the writer lock of
    each state file (:class:`_AtomicJsonState`).

    - **Take.** An ``O_EXCL`` create names the token; the create can
      succeed for one caller only. A file that already names the token is
      held (re-entrant: ``take`` refreshes its mtime).
    - **Staleness.** A lease whose mtime is older than ``stale_seconds``
      is an orphan (its holder crashed): holders that live long refresh
      it. The holder is read BEFORE the staleness is judged, so the
      observed holder is never newer than the verdict.
    - **Single-winner break.** A stale lease is renamed to a private
      grave, ``<path>.stale.<uuid>``: ``os.rename`` of one source path
      succeeds for one breaker only. The winner then checks the grave: if
      it names another holder than the one observed (a release and a
      fresh take slipped in between the verdict and the rename), it
      buried a LIVE lease and restores it with ``os.link``, which cannot
      clobber a lease created meanwhile. Otherwise it drops the grave and
      joins the ``O_EXCL`` race again, so a break never hands over
      ownership by itself. A lease that vanishes under a taker makes it
      retry, a bounded number of times.
    - **Restore window.** While a breaker restores a live lease, the file
      is briefly missing, so ``holds`` reads a missing file once more
      after a short pause before reporting the lease lost.

    Residual exposure: if a third taker creates the lease inside the
    restore window, the restored holder has lost it and learns so at its
    next ``holds``/``refresh``. On a shared filesystem with atomic rename
    and hard links the protocol holds unchanged.
    """

    #: vanished-file retries of one ``take``
    RETRIES = 16
    #: the pause before ``holds`` reads a missing lease again
    RESTORE_PAUSE = 0.1
    #: the poll interval of ``wait``
    POLL = 0.02

    def __init__(self, path: str, stale_seconds: float):
        self.path = path
        self.stale_seconds = stale_seconds

    def holder(self) -> str | None:
        """The token the lease file names; None if there is none."""
        try:
            with open(self.path) as f:
                return f.read().strip()
        except OSError:
            return None

    def _stale(self) -> bool:
        try:
            return time.time() - os.path.getmtime(self.path) > self.stale_seconds
        except FileNotFoundError:
            return False

    def take(self, token: str) -> bool:
        """One attempt to hold the lease for ``token``; never blocks on a
        live foreign lease."""
        for _ in range(self.RETRIES):
            try:
                fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                pass
            else:
                with os.fdopen(fd, "w") as f:
                    f.write(token)
                return True
            observed = self.holder()
            if observed is None:
                continue  # released between the create and the read
            if observed == token:
                try:
                    os.utime(self.path)
                    return True
                except FileNotFoundError:
                    continue
            if not self._stale():
                return False
            grave = f"{self.path}.stale.{uuid.uuid4().hex}"
            try:
                os.rename(self.path, grave)
            except FileNotFoundError:
                continue  # another breaker, or a release, came first
            buried = Lease(grave, self.stale_seconds).holder()
            if buried is not None and buried != observed:
                try:
                    os.link(grave, self.path)
                except FileExistsError:
                    pass  # a third taker won; the buried holder learns it
                os.unlink(grave)
                return False
            os.unlink(grave)
        return False

    def wait(self, token: str, timeout_seconds: float) -> bool:
        """The blocking form of ``take``: poll until ``timeout_seconds``
        pass; False if they do."""
        deadline = time.monotonic() + timeout_seconds
        while not self.take(token):
            if time.monotonic() > deadline:
                return False
            time.sleep(self.POLL)
        return True

    def holds(self, token: str) -> bool:
        """True iff the lease names ``token``, read once more after a
        short pause when the file is missing (the restore window)."""
        held = self.holder()
        if held is None:
            time.sleep(self.RESTORE_PAUSE)
            held = self.holder()
        return held == token

    def refresh(self, token: str) -> bool:
        """The holder's heartbeat: False when the lease is lost."""
        if not self.holds(token):
            return False
        try:
            os.utime(self.path)
        except OSError:
            return False
        return True

    def drop(self, token: str) -> None:
        """Release the lease, only if it names ``token``: a holder whose
        lease was broken must not remove the breaker's."""
        if self.holds(token):
            try:
                os.unlink(self.path)
            except FileNotFoundError:
                pass


class TopicMutex:
    """Per-topic append mutex: a :class:`Lease` on ``<lock_dir>/<topic>.lock``.

    ``EventStore.append`` is a read-modify-write of the topic's commit log
    (read the log → next lsn → write the data → log entry ``n + 1``):
    two concurrent appends to one topic could both read the same log and
    take the same lsn. This mutex serializes that critical section, the
    file-system analog of the reference's advisory lock
    (`LockManager.java:45-84` — there one lock guards the whole writer;
    here one short-lived lease guards each append's read+write).

    ``acquire`` polls the lease up to ``timeout_seconds``; a lease older
    than ``stale_seconds`` is an orphan from a crashed append and is
    broken by the lease's protocol. A holder refreshes its lease from a
    daemon thread every ``stale_seconds / 4``, so a legitimately long
    append never looks orphaned. Each acquire takes a fresh token, kept
    per (topic, thread): ``owns`` and ``release`` act only on the calling
    thread's own acquire, so a sibling thread's acquire after a theft can
    neither pass the victim's ``owns`` nor be released by it.
    """

    def __init__(self, lock_dir: str, timeout_seconds: float = 30.0, stale_seconds: float = 120.0):
        self.lock_dir = lock_dir
        self.timeout_seconds = timeout_seconds
        self.stale_seconds = stale_seconds
        os.makedirs(lock_dir, exist_ok=True)
        #: (topic, thread id) → (token, heartbeat stop event)
        self._held: dict[tuple[str, int], tuple[str, threading.Event]] = {}
        self._held_guard = threading.Lock()

    def _path(self, topic: str) -> str:
        return os.path.join(self.lock_dir, f"{topic}.lock")

    def _lease(self, topic: str) -> Lease:
        return Lease(self._path(topic), self.stale_seconds)

    def _held_key(self, topic: str) -> tuple[str, int]:
        return (topic, threading.get_ident())

    def acquire(self, topic: str) -> None:
        token = uuid.uuid4().hex
        lease = self._lease(topic)
        if not lease.wait(token, self.timeout_seconds):
            raise TimeoutError(
                f"append mutex for topic {topic!r} held beyond "
                f"{self.timeout_seconds}s (stale after {self.stale_seconds}s)"
            )
        stop = threading.Event()

        def beat() -> None:
            while not stop.wait(self.stale_seconds / 4.0):
                if not lease.refresh(token):
                    return

        with self._held_guard:
            self._held[self._held_key(topic)] = (token, stop)
        threading.Thread(target=beat, name=f"mutex-heartbeat-{topic}", daemon=True).start()

    def owns(self, topic: str) -> bool:
        """True iff the calling thread's acquire still holds the lease —
        the commit-point re-check: a writer paused past ``stale_seconds``
        can have its lease broken mid-append, and re-checking right before
        the irrevocable step (the log entry) turns a silent double lsn
        into a loud abort."""
        with self._held_guard:
            held = self._held.get(self._held_key(topic))
        return held is not None and self._lease(topic).holds(held[0])

    def release(self, topic: str) -> None:
        """Release the calling thread's acquire of ``topic``, if any."""
        with self._held_guard:
            held = self._held.pop(self._held_key(topic), None)
        if held is not None:
            token, stop = held
            stop.set()
            self._lease(topic).drop(token)


class _AtomicJsonState:
    """A tiny key→value store in one JSON file. Every change is one
    read-modify-write under the file's writer lease (a :class:`Lease` on
    ``<path>.lock``), so concurrent writers never lose each other's
    updates; reads take no lease, because the write is an atomic replace.
    Lock order: a caller may hold a topic mutex while it updates a state
    file, never the other way round."""

    #: a writer lease older than this is an orphan of a crashed writer
    STALE_SECONDS = 30.0

    def __init__(self, path: str, initial: dict | None = None):
        self.path = path
        self._initial = initial or {}
        self._lease = Lease(f"{path}.lock", self.STALE_SECONDS)
        if not os.path.exists(path):
            os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
            self._update(lambda data: None)

    def _read(self) -> dict:
        with open(self.path) as f:
            return json.load(f)

    def _write(self, data: dict) -> None:
        atomic_write(self.path, json.dumps(data))

    def _update(self, change: Callable[[dict], None]) -> None:
        """Apply ``change`` to the state in place and write it, under the
        writer lease; a missing file reads as the initial state."""
        token = uuid.uuid4().hex
        if not self._lease.wait(token, 2 * self.STALE_SECONDS):
            raise TimeoutError(f"state file {self.path!r} stayed locked")
        try:
            try:
                data = self._read()
            except FileNotFoundError:
                data = dict(self._initial)
            change(data)
            self._write(data)
        finally:
            self._lease.drop(token)


class _ConsumerState(_AtomicJsonState):
    """The bookkeeping of an event-log consumer: per topic one entry with
    the committed ``cursor`` and ``batch_id`` and, while a keyset batch is
    between its plan and its commit, the ``pending`` batch it planned
    (`streaming.keyset`). The commit replaces the entry, which clears it."""

    def _key(self, topic: str) -> str:
        return topic

    def _entry(self, data: dict, topic: str) -> dict:
        v = data.get(self._key(topic))
        return dict(v) if isinstance(v, dict) else {"cursor": v} if v else {}

    def position(self, topic: str) -> tuple[Cursor, int, Cursor | None]:
        """The committed cursor (zero before the first commit), the id of
        the next batch and, if a planned batch has not committed, its high
        water: the batch to rerun. A plan at or below the cursor (another
        instance's, overtaken) is no batch to rerun."""
        entry = self._entry(self._read(), topic)
        cursor = Cursor.parse(entry["cursor"]) if entry.get("cursor") else Cursor.zero()
        pending = entry.get("pending")
        if pending and Cursor.parse(pending["cursor"]) > cursor:
            return cursor, pending["batch_id"], Cursor.parse(pending["cursor"])
        last = entry.get("batch_id")
        return cursor, 0 if last is None else last + 1, None

    def plan(self, topic: str, batch_id: int, hi: Cursor) -> None:
        """Record batch ``batch_id`` with high water ``hi`` as pending: one
        atomic write, before the batch's first side effect."""
        pending = {"batch_id": batch_id, "cursor": hi.serialize()}
        self._update(lambda data: data.update(
            {self._key(topic): {**self._entry(data, topic), "pending": pending}}
        ))


class OffsetsTable(_ConsumerState):
    """events.topic_offsets analog; offset −1 = nothing consumed yet.

    Against a Kafka source the offset is the partition offset (a single
    long, like the reference). Against the file-source event tables the
    consumption position is the ``(lsn, id)`` cursor — ``id`` alone is only
    unique within one append — so the cursor is stored alongside.
    """

    def _key(self, topic: str) -> str:
        return f"{topic}/0"

    def get(self, topic: str, partition: int = 0) -> int:
        return self._read().get(f"{topic}/{partition}", {}).get("offset", -1)

    def partitions(self, topic: str) -> list[int]:
        """Every partition this table has recorded for ``topic``, sorted.

        Consumers use this to dedupe-filter partitions DISCOVERED at
        runtime (a topic that grew partitions after the subscription was
        configured): the static partition list alone would leave a
        newly-added partition's redeliveries unfiltered on later runs."""
        prefix = f"{topic}/"
        return sorted(
            int(k[len(prefix):])
            for k in self._read()
            if k.startswith(prefix) and k[len(prefix):].isdigit()
        )

    def get_cursor(self, topic: str, partition: int = 0) -> Cursor | None:
        c = self._read().get(f"{topic}/{partition}", {}).get("cursor")
        return Cursor.parse(c) if c else None

    def last_batch_id(self, topic: str, partition: int = 0) -> int | None:
        return self._read().get(f"{topic}/{partition}", {}).get("batch_id")

    def last_ckpt_id(self, topic: str, partition: int = 0) -> str | None:
        """Checkpoint-lineage marker recorded with the last upsert of the
        Kafka-source subscription (see `streaming.lineage`): its batch ids
        are only comparable within one checkpoint's lifetime."""
        return self._read().get(f"{topic}/{partition}", {}).get("ckpt_id")

    def upsert(self, topic: str, offset: int, partition: int = 0, batch_id: int | None = None,
               cursor: Cursor | None = None, ckpt_id: str | None = None) -> None:
        self.upsert_many(topic, [(partition, offset, batch_id, cursor, ckpt_id)])

    def upsert_many(
        self,
        topic: str,
        rows: list[tuple[int, int, int | None, Cursor | None, str | None]],
    ) -> None:
        """Upsert several partitions' positions in ONE atomic file replace.

        ``rows`` = [(partition, offset, batch_id, cursor, ckpt_id), ...].
        A multi-partition Kafka batch commit must be all-or-nothing: N
        separate writes in arbitrary order let a crash land the partition-0
        batch-id (so the redelivered batch is skipped) while other
        partitions' cursors are stale — widening the at-least-once window
        beyond the documented one batch (ADVICE r3).
        """
        entries = {}
        for partition, offset, batch_id, cursor, ckpt_id in rows:
            entry = entries[f"{topic}/{partition}"] = {"offset": offset, "batch_id": batch_id}
            if cursor is not None:
                entry["cursor"] = cursor.serialize()
            if ckpt_id is not None:
                entry["ckpt_id"] = ckpt_id
        self._update(lambda data: data.update(entries))


class ProgressStore(_ConsumerState):
    """Replication progress: last replicated cursor per topic (last-write-wins)."""

    def __init__(self, path: str):
        super().__init__(path, initial={NOOP_KEY: Cursor.zero().serialize()})

    def last_cursor(self, topic: str) -> Cursor | None:
        c = self._entry(self._read(), topic).get("cursor")
        return Cursor.parse(c) if c else None

    def last_batch_id(self, topic: str) -> int | None:
        return self._entry(self._read(), topic).get("batch_id")

    def save(self, topic: str, cursor: Cursor, batch_id: int | None = None) -> None:
        entry = {"cursor": cursor.serialize(), "batch_id": batch_id}
        self._update(lambda data: data.update({topic: entry}))

    def topics(self) -> list[str]:
        return sorted(k for k in self._read() if k != NOOP_KEY)
