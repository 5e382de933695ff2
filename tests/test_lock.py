"""Single-writer lock + monitor (X4), mirroring the reference's tests:

- LockManagerIT.java:88-120 — acquire succeeds; a second instance fails
  while the first holds; (extended:) succeeds after release/expiry
- LockMonitorTest.java:41-80 — monitor re-asserts the lock; on failure it
  exits(1) via the testable seam
- Replicator integration: second writer refused at start; lock loss
  mid-run fails the streaming query (the exit(1) analog, X6)
"""

from __future__ import annotations

import datetime
import os
import threading

import pytest

from event_store_spark.core import EventStore
from event_store_spark.core.state import Lease, ProgressStore
from event_store_spark.streaming import LockManager, LockMonitor, Replicator

TS = datetime.datetime(2025, 1, 4, 12, 0, 0)


def test_acquire_and_contention(tmp_path):
    """LockManagerIT order 1+2: first instance acquires, second fails."""
    a = LockManager(str(tmp_path), owner="a")
    b = LockManager(str(tmp_path), owner="b")
    assert a.acquire() is True
    assert b.acquire() is False
    assert a.acquire() is True  # reentrant (advisory locks are session-scoped)


def test_release_frees_lock(tmp_path):
    a = LockManager(str(tmp_path), owner="a")
    b = LockManager(str(tmp_path), owner="b")
    assert a.acquire()
    a.release()
    assert b.acquire() is True


def test_expired_lease_is_stolen_and_old_owner_detects_loss(tmp_path):
    """A dead holder's lease (stale heartbeat) is taken over; the old
    owner's next heartbeat reports loss — the session-death analog."""
    a = LockManager(str(tmp_path), owner="a", lease_seconds=10)
    b = LockManager(str(tmp_path), owner="b", lease_seconds=10)
    assert a.acquire()
    os.utime(a.path, (0, 0))  # heartbeat long in the past: holder died
    assert b.acquire() is True
    assert a.heartbeat() is False  # old owner must stop writing
    assert b.heartbeat() is True


def test_steal_race_restores_live_lease(tmp_path, monkeypatch):
    """TOCTOU guard (ADVICE r4): if, between the expiry check and the
    rename, the stale lease is released and a FRESH foreign lease appears,
    the breaker must detect it buried the wrong holder, restore the live
    lease, and report failure — not hold the lock concurrently."""
    breaker = LockManager(str(tmp_path), owner="breaker", lease_seconds=10)
    stale = LockManager(str(tmp_path), owner="dead", lease_seconds=10)
    assert stale.acquire()
    os.utime(stale.path, (0, 0))  # looks expired to the breaker

    orig_expired = Lease._stale

    def expired_then_swap(self):
        out = orig_expired(self)
        if out:
            # simulate the race: the dead holder's lease is released and a
            # live instance acquires, in the window before the rename
            live = LockManager(str(tmp_path), owner="live", lease_seconds=10)
            os.unlink(self.path)
            assert live.acquire()
        return out

    monkeypatch.setattr(Lease, "_stale", expired_then_swap)
    assert breaker.acquire() is False  # live lease detected, not stolen
    monkeypatch.undo()

    # the live lease survived intact and still heartbeats
    live = LockManager(str(tmp_path), owner="live", lease_seconds=10)
    assert live.heartbeat() is True
    # no grave litter left behind
    leftovers = [p for p in os.listdir(tmp_path) if ".stale." in p]
    assert leftovers == []


def test_heartbeat_holds_through_a_breakers_restore(tmp_path, monkeypatch):
    """A breaker that buried a live lease (a release and a fresh acquire
    slipped in between its expiry check and its rename) restores it with
    ``os.link``; until then the lease file is missing. The live holder's
    heartbeat inside that window must still report the lock held, or a
    live replicator query fails with "lock lost"."""
    dead = LockManager(str(tmp_path), owner="dead", lease_seconds=10)
    live = LockManager(str(tmp_path), owner="live", lease_seconds=10)
    breaker = LockManager(str(tmp_path), owner="breaker", lease_seconds=10)
    assert dead.acquire()
    os.utime(dead.path, (0, 0))  # looks expired to the breaker
    real_rename, real_link = os.rename, os.link
    beats, swapped = [], []

    def release_and_acquire_then_rename(src, dst):
        if src == dead.path and not swapped:
            swapped.append(src)
            os.unlink(src)  # the dead holder's lease goes...
            assert live.acquire()  # ...and a live instance takes it
        real_rename(src, dst)

    def heartbeat_then_link(src, dst):
        restore = threading.Timer(0.02, real_link, (src, dst))
        restore.start()
        beats.append(live.heartbeat())  # the file is missing right now
        restore.join()

    monkeypatch.setattr(os, "rename", release_and_acquire_then_rename)
    monkeypatch.setattr(os, "link", heartbeat_then_link)
    assert breaker.acquire() is False
    monkeypatch.undo()
    assert beats == [True]
    assert live.heartbeat() is True


def test_fresh_lease_is_not_stolen(tmp_path):
    a = LockManager(str(tmp_path), owner="a", lease_seconds=3600)
    b = LockManager(str(tmp_path), owner="b", lease_seconds=3600)
    assert a.acquire()
    assert b.acquire() is False
    assert a.heartbeat() is True


def test_monitor_ok_and_loss(tmp_path):
    """LockMonitorTest: held lock → re-assert ok; foreign lock → exit(1)
    through the testable seam."""
    a = LockManager(str(tmp_path), owner="a")
    assert a.acquire()
    codes = []
    ok_monitor = LockMonitor(a, on_loss=codes.append)
    assert ok_monitor.check_once() is True and codes == []

    b = LockManager(str(tmp_path), owner="b")
    lost_monitor = LockMonitor(b, on_loss=codes.append)
    assert lost_monitor.check_once() is False
    assert codes == [1]

    with pytest.raises(SystemExit):  # default seam is System.exit(1) parity
        LockMonitor(b).check_once()


def test_second_replicator_refused(spark, tmp_path):
    """Two Replicators on one store: the second is refused at query start
    (no interleaved writes — the round-1 gap)."""
    store = EventStore(spark, str(tmp_path / "store"))
    store.append(
        "x_events",
        spark.createDataFrame(
            [("k", "p", TS)], "key string, payload string, timestamp timestamp"
        ),
    )
    progress = ProgressStore(str(tmp_path / "progress.json"))
    lock_root = str(tmp_path / "lock")
    rep1 = Replicator(
        store, str(tmp_path / "t"), progress, str(tmp_path / "ck1"),
        lock=LockManager(lock_root, owner="rep1"),
    )
    rep2 = Replicator(
        store, str(tmp_path / "t"), progress, str(tmp_path / "ck2"),
        lock=LockManager(lock_root, owner="rep2"),
    )
    assert rep1.lock.acquire()  # rep1 is the live instance
    with pytest.raises(RuntimeError, match="another replicator instance"):
        rep2.replicate("x_events")
    rep1.lock.release()
    rep2.replicate("x_events").awaitTermination(120)
    assert spark.read.parquet(rep2.target_path("x_events")).count() == 1


def test_lock_loss_fails_streaming_query(spark, tmp_path, monkeypatch):
    """Lease stolen mid-run (holder presumed dead) → the next batch's
    heartbeat fails the run before writing, mirroring LockMonitor's
    exit(1). The takeover is injected deterministically between this
    instance's acquire and its first batch."""
    store = EventStore(spark, str(tmp_path / "store"))
    store.append(
        "y_events",
        spark.createDataFrame(
            [("k", "p", TS)], "key string, payload string, timestamp timestamp"
        ),
    )
    progress = ProgressStore(str(tmp_path / "progress.json"))
    lock_root = str(tmp_path / "lock")
    mine = LockManager(lock_root, owner="live", lease_seconds=10)
    rep = Replicator(
        store, str(tmp_path / "t"), progress, str(tmp_path / "ck"), lock=mine
    )

    real_acquire = mine.acquire

    def acquire_then_takeover():
        held = real_acquire()
        with open(mine.path, "w") as f:  # another instance took the lease
            f.write("thief")
        return held

    monkeypatch.setattr(mine, "acquire", acquire_then_takeover)
    q = rep.replicate("y_events")
    with pytest.raises(Exception, match="lock lost"):
        q.awaitTermination(120)
    assert not os.path.isdir(rep.target_path("y_events"))  # nothing written
