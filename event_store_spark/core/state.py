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

Exactly-once composition: both stores record the ``batch_id`` that produced
each update, so a `foreachBatch` sink can make redelivered batches no-ops
(idempotent-by-batchId — the Spark answer to the reference's Kafka
transactions, SURVEY §2.8 X2/X3).
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
import time

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


class TopicMutex:
    """O_EXCL-based per-topic append mutex.

    :class:`TicketStore`'s ``save`` is an atomic file replace, but the
    reserve step in ``EventStore.append`` is a read-modify-write (read
    ticket → compute next lsn → save) — two concurrent appends to one topic
    could both read the same ticket and reserve the same lsn, violating the
    never-a-duplicate-lsn invariant. This mutex serializes that critical
    section, the file-system analog of the reference's advisory lock
    (`LockManager.java:45-84` — there one lock guards the whole writer; here
    one short-lived lock guards each append's reserve+write).

    Acquire blocks up to ``timeout_seconds`` (appends are short); a lock
    file older than ``stale_seconds`` is an orphan from a crashed append.

    Two properties the first-cut replace-and-verify steal did NOT have
    (ADVICE r3):

    - **Single steal winner.** A stale lock is broken by *renaming* it to a
      steal-private name: ``os.rename`` of one source path can succeed for
      exactly one caller, so concurrent breakers cannot both conclude they
      removed the stale lock (replace-then-read-back let breaker B replace
      again after A's verify, leaving both inside the critical section).
      The winner merely *removes* the orphan; ownership is then decided by
      the same ``O_EXCL`` create every acquirer races on.
    - **Holder heartbeat.** A legitimately long append (a large parquet
      write can exceed ``stale_seconds``) must not look like an orphan: the
      holder refreshes the lock file's mtime from a daemon thread every
      ``stale_seconds / 4``, so only a crashed (or SIGSTOPped longer than
      ``stale_seconds``) holder ever goes stale.
    """

    def __init__(self, lock_dir: str, timeout_seconds: float = 30.0, stale_seconds: float = 120.0):
        self.lock_dir = lock_dir
        self.timeout_seconds = timeout_seconds
        self.stale_seconds = stale_seconds
        os.makedirs(lock_dir, exist_ok=True)
        # (topic, thread-id) → (token, stop-event, thread) for locks THIS
        # instance holds. Keyed per THREAD, not per topic (review r5): with
        # a per-topic slot, a thread whose lock was stolen-and-released
        # could have its entry clobbered by a sibling thread's fresh
        # acquire, making the victim's owns() compare the thief's token
        # against itself (guard bypassed) and its release() unlink the
        # sibling's live lock. acquire/owns/release all run on the
        # acquiring thread (append is synchronous), so thread identity
        # scopes each acquire correctly.
        self._held: dict[
            tuple[str, int], tuple[str, threading.Event, threading.Thread]
        ] = {}
        self._held_guard = threading.Lock()

    def _path(self, topic: str) -> str:
        return os.path.join(self.lock_dir, f"{topic}.lock")

    def _held_key(self, topic: str) -> tuple[str, int]:
        return (topic, threading.get_ident())

    def acquire(self, topic: str) -> None:
        import uuid

        path = self._path(topic)
        token = uuid.uuid4().hex  # per-acquire identity (pid is shared by threads)
        deadline = time.monotonic() + self.timeout_seconds
        while True:
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                with os.fdopen(fd, "w") as f:
                    f.write(token)
                self._start_heartbeat(topic, path, token)
                return
            except FileExistsError:
                pass
            try:
                if (time.time() - os.path.getmtime(path)) > self.stale_seconds:
                    # read the holder we are about to judge, then RE-CHECK
                    # staleness: observed must be captured at-or-before the
                    # staleness judgment (a fresh lock swapped in between a
                    # stale verdict and the holder read would make the
                    # grave verification below vacuously pass and delete a
                    # LIVE lock). The read happens only on the stale branch
                    # — not once per 20 ms poll (review r5 efficiency).
                    observed = self._holder(path)
                    if observed is None:
                        continue  # released under us — rejoin O_EXCL race
                    if (time.time() - os.path.getmtime(path)) <= self.stale_seconds:
                        continue  # refreshed/replaced after the first check
                    # orphaned lock (holder crashed mid-append, heartbeat
                    # dead): move it aside under a steal-private name —
                    # exactly one renamer can win because the source path
                    # exists only once. Losers see FileNotFoundError and
                    # rejoin the O_EXCL race.
                    grave = f"{path}.stale.{token}"
                    try:
                        os.rename(path, grave)
                    except FileNotFoundError:
                        continue  # another breaker (or a release) beat us
                    # TOCTOU guard (same protocol as streaming.lock,
                    # ADVICE r4): if a release + fresh acquire slipped in
                    # between the staleness check and the rename, we just
                    # buried a LIVE lock — verify the grave still names
                    # the stale holder we observed, else restore it
                    # atomically (os.link cannot clobber a newer lock)
                    grave_holder = self._holder(grave)
                    if grave_holder is not None and grave_holder != observed:
                        try:
                            os.link(grave, path)
                        except FileExistsError:
                            pass  # a third acquirer re-created; victim's
                            # next heartbeat/owns() check notices
                        os.unlink(grave)
                        # Residual (documented): if the live holder RELEASED
                        # in the rename→link window, the link resurrects a
                        # just-released lock as an orphan — a liveness cost
                        # only (ages out after stale_seconds), never a
                        # safety violation; the heartbeat's transient-miss
                        # tolerance below keeps the restored holder alive.
                        continue  # live lock: keep waiting for release
                    os.unlink(grave)
                    continue  # compete for the fresh lock via O_EXCL
            except FileNotFoundError:
                continue  # released between open and stat — retry now
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"append mutex for topic {topic!r} held beyond "
                    f"{self.timeout_seconds}s (stale after {self.stale_seconds}s)"
                )
            time.sleep(0.02)

    def _start_heartbeat(self, topic: str, path: str, token: str) -> None:
        stop = threading.Event()

        def beat() -> None:
            while not stop.wait(self.stale_seconds / 4.0):
                try:
                    # refresh only if the file is still OUR lock (a thief's
                    # lock must not be kept alive by a stale holder's beat).
                    # A single miss is re-checked after a short pause: a
                    # concurrent breaker's rename→verify→link restore makes
                    # the file transiently absent even though ownership
                    # survives — exiting on first miss would leave a live
                    # long append heartbeat-less and genuinely stealable
                    # (review r5).
                    if self._holder(path) == token:
                        os.utime(path)
                        continue
                    time.sleep(0.05)
                    if self._holder(path) == token:
                        os.utime(path)
                    else:
                        return  # confirmed foreign/gone: stop beating
                except OSError:
                    return

        t = threading.Thread(target=beat, name=f"mutex-heartbeat-{topic}", daemon=True)
        with self._held_guard:
            self._held[self._held_key(topic)] = (token, stop, t)
        t.start()

    @staticmethod
    def _holder(path: str) -> str | None:
        try:
            with open(path) as f:
                return f.read().strip()
        except (FileNotFoundError, OSError):
            return None

    def owns(self, topic: str) -> bool:
        """True iff the lock file still carries THIS instance's live
        acquire token — the commit-point re-verification for multi-writer
        coordination: a writer SIGSTOPped past ``stale_seconds`` can have
        its lock stolen mid-append; re-checking ownership immediately
        before the irrevocable step (the lsn ticket save) turns the
        silent double-reservation into a loud abort. The residual window
        (theft between this check and the save) is one filesystem op wide
        versus ``stale_seconds`` for the heartbeat to lapse first —
        the same verify-then-act structure as `LockMonitor.check_once`.

        Scoped to the CALLING thread's acquire (the bookkeeping is keyed
        by (topic, thread)): a sibling thread's fresh acquire after this
        thread's lock was stolen must not make the victim's check pass
        against the sibling's token (review r5)."""
        with self._held_guard:
            held = self._held.get(self._held_key(topic))
        if held is None:
            return False
        return self._holder(self._path(topic)) == held[0]

    def release(self, topic: str) -> None:
        with self._held_guard:
            held = self._held.pop(self._held_key(topic), None)
        if held is not None:
            token, stop, thread = held
            stop.set()
            path = self._path(topic)
            # unlink only our own lock: if we were SIGSTOPped past
            # stale_seconds and stolen from, the thief's lock must survive
            if self._holder(path) == token:
                try:
                    os.unlink(path)
                except FileNotFoundError:
                    pass
            return
        # release() without a tracked acquire (legacy/test path): best-effort
        try:
            os.unlink(self._path(topic))
        except FileNotFoundError:
            pass


class _AtomicJsonState:
    """A tiny key→value store with atomic whole-file replace."""

    def __init__(self, path: str, initial: dict | None = None):
        self.path = path
        if not os.path.exists(path):
            os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
            self._write(initial or {})

    def _read(self) -> dict:
        with open(self.path) as f:
            return json.load(f)

    def _write(self, data: dict) -> None:
        atomic_write(self.path, json.dumps(data))


class OffsetsTable(_AtomicJsonState):
    """events.topic_offsets analog; offset −1 = nothing consumed yet.

    Against a Kafka source the offset is the partition offset (a single
    long, like the reference). Against the file-source event tables the
    consumption position is the ``(lsn, id)`` cursor — ``id`` alone is only
    unique within one append — so the cursor is stored alongside.
    """

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
        """Checkpoint-lineage marker recorded with the last upsert (see
        `streaming.lineage`): batch ids are only comparable within one
        checkpoint's lifetime, so consumers record WHICH checkpoint produced
        the bookkeeping and disable batch-id skipping when it changes."""
        return self._read().get(f"{topic}/{partition}", {}).get("ckpt_id")

    @staticmethod
    def _entry(
        offset: int,
        batch_id: int | None,
        cursor: Cursor | None,
        ckpt_id: str | None,
    ) -> dict:
        entry = {"offset": offset, "batch_id": batch_id}
        if cursor is not None:
            entry["cursor"] = cursor.serialize()
        if ckpt_id is not None:
            entry["ckpt_id"] = ckpt_id
        return entry

    def upsert(
        self,
        topic: str,
        offset: int,
        partition: int = 0,
        batch_id: int | None = None,
        cursor: Cursor | None = None,
        ckpt_id: str | None = None,
    ) -> None:
        data = self._read()
        data[f"{topic}/{partition}"] = self._entry(offset, batch_id, cursor, ckpt_id)
        self._write(data)

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
        data = self._read()
        for partition, offset, batch_id, cursor, ckpt_id in rows:
            data[f"{topic}/{partition}"] = self._entry(offset, batch_id, cursor, ckpt_id)
        self._write(data)


class TicketStore(_AtomicJsonState):
    """Per-topic append ticket: high-water ``(lsn, max_id)``, cumulative row
    count, and layout facts (``key_type``, day-partitioning, row schema).

    The Spark-file analog of the reference's transactional id/lsn sequence:
    the reference gets MAX(lsn)/MAX(id) for free from Postgres sequences and
    indexes; a parquet topic would need a full footer-stat scan per append
    (two O(table) file listings at 100 TB — the round-1 scale bug). Instead
    ``EventStore.append`` computes the batch's high water from the batch
    alone and saves it here ONCE, before writing — so appends never read
    pre-existing topic files. The rows become visible later, by the topic's
    commit-log entry; a crash between the two leaves an lsn gap (never a
    duplicate lsn), mirroring a WAL that reserves LSNs ahead of the commit
    record. Until repaired, the orphaned reservation also makes
    max_id/total — and the O(1) gauges built on them — overcount by that
    one batch (data correctness is unaffected; `EventStore.repair_ticket`
    rebuilds from the committed rows). Legacy topics without a ticket are
    recovered by one explicit scan.
    """

    def get(self, topic: str) -> dict | None:
        return self._read().get(topic)

    def drop(self, topic: str) -> None:
        """Forget a topic's ticket (it will be rebuilt from parquet)."""
        data = self._read()
        if topic in data:
            del data[topic]
            self._write(data)

    def save(
        self,
        topic: str,
        *,
        lsn: int,
        max_id: int,
        total: int,
        key_type: str,
        day_partitioned: bool,
        schema: dict | None = None,
    ) -> None:
        data = self._read()
        data[topic] = {
            "lsn": lsn,
            "max_id": max_id,
            "total": total,
            "key_type": key_type,
            "day_partitioned": day_partitioned,
            # the rows' Spark schema (StructType JSON, all nullable): reads
            # pass it to `.schema(...)` instead of inferring it from footers
            "schema": schema,
        }
        self._write(data)


class ProgressStore(_AtomicJsonState):
    """Replication progress: last replicated cursor per topic (last-write-wins)."""

    def __init__(self, path: str):
        super().__init__(path, initial={NOOP_KEY: Cursor.zero().serialize()})

    def last_cursor(self, topic: str) -> Cursor | None:
        v = self._read().get(topic)
        return Cursor.parse(v["cursor"] if isinstance(v, dict) else v) if v else None

    def last_batch_id(self, topic: str) -> int | None:
        v = self._read().get(topic)
        return v.get("batch_id") if isinstance(v, dict) else None

    def last_ckpt_id(self, topic: str) -> str | None:
        """Checkpoint-lineage marker recorded with the last save: batch ids
        are only comparable within one streaming checkpoint's lifetime, so
        the replicator stores WHICH checkpoint produced the bookkeeping and
        switches to order-independent recovery when the lineage changes."""
        v = self._read().get(topic)
        return v.get("ckpt_id") if isinstance(v, dict) else None

    def save(
        self,
        topic: str,
        cursor: Cursor,
        batch_id: int | None = None,
        ckpt_id: str | None = None,
    ) -> None:
        data = self._read()
        data[topic] = {
            "cursor": cursor.serialize(),
            "batch_id": batch_id,
            "ckpt_id": ckpt_id,
        }
        self._write(data)

    def topics(self) -> list[str]:
        return sorted(k for k in self._read() if k != NOOP_KEY)
