"""Single-writer lock + monitor (X4): one replicator instance per store.

Re-expresses the reference's advisory-lock pair:

- `LockManager.java:45-84` — `pg_try_advisory_lock` keyed by the lock name;
  session-scoped, so re-acquiring from the holder succeeds and the lock
  dies with the session. Here: an atomically created lease FILE holding the
  owner id, with a heartbeat mtime standing in for session liveness — a
  lease older than ``lease_seconds`` is considered orphaned (holder died)
  and may be stolen, exactly the role of Postgres dropping the session.
- `LockMonitor.java:52-58` — periodically re-asserts the lock and calls
  `System.exit(1)` on loss ("another instance running?"). Here:
  :class:`LockMonitor.check_once` re-asserts and invokes ``on_loss`` (the
  testable `exit` seam); the in-loop equivalent is the Replicator
  heartbeating at every micro-batch and failing the query on loss
  (fail-fast X6 — the streaming analog of killing the process).

The lease is a `core.state.Lease` (the one lease protocol: O_EXCL take,
single-winner break of a stale lease, restore of a live one buried by a
race; its docstring describes it) whose token is the owner id. On a
shared filesystem (HDFS/NFS/object store with atomic rename) the same
protocol holds; a real cluster deployment can swap in a DB advisory lock
behind this interface unchanged.
"""

from __future__ import annotations

import os
import time
import uuid

from event_store_spark.core.state import Lease

LOCK_NAME = "_event_replicator_lock"  # parity: LockManager.java LOCK_NAME


class LockManager:
    """The replicator's lease on ``<root>/_event_replicator_lock``, held
    by ``owner``; stale after ``lease_seconds`` without a heartbeat."""

    def __init__(self, root: str, owner: str | None = None, lease_seconds: float = 30.0):
        self.path = os.path.join(root, LOCK_NAME)
        self.owner = owner or uuid.uuid4().hex
        self.lease_seconds = lease_seconds
        os.makedirs(root, exist_ok=True)
        self._lease = Lease(self.path, lease_seconds)

    def acquire(self) -> bool:
        """Take (or re-assert, refreshing the heartbeat) the lease; never
        blocks on a live foreign lease. True when this owner holds it."""
        return self._lease.take(self.owner)

    def heartbeat(self) -> bool:
        """Refresh the lease; False means the lock was lost — the caller
        must stop writing."""
        return self._lease.refresh(self.owner)

    def release(self) -> None:
        self._lease.drop(self.owner)


class LockMonitor:
    """Re-asserts the lock; on loss, fails fast (`LockMonitor.java:52-58`).

    ``on_loss(code)`` is the testable `exit` seam — the default raises
    SystemExit(1), the production wiring inside a streaming query raises to
    fail the query, and tests record the code instead.
    """

    def __init__(self, manager: LockManager, on_loss=None):
        self.manager = manager
        self.on_loss = on_loss or self._default_exit

    @staticmethod
    def _default_exit(code: int) -> None:
        raise SystemExit(code)

    def check_once(self) -> bool:
        if not self.manager.acquire():
            self.on_loss(1)
            return False
        return True

    def run_forever(self, interval_seconds: float = 5.0) -> None:
        """Blocking monitor loop (run in a daemon thread in deployments)."""
        while self.check_once():
            time.sleep(interval_seconds)
