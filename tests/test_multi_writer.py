"""Multi-writer append coordination (VERDICT r4 'missing' #4).

The reference holds a single-writer invariant via a Postgres advisory
lock (LockManager.java:45-84); here concurrent appends to one topic
serialize on the per-topic TopicMutex over a shared filesystem, and the
commit point (the commit-log entry) re-verifies ownership so a writer
whose lock was stolen after a heartbeat lapse aborts loudly instead of
logging a second writer's lsn.
"""

from __future__ import annotations

import datetime
import os
import sys
import threading

import pytest

from event_store_spark.core import EventStore
from event_store_spark.core.cursor import Cursor
from event_store_spark.core.state import OffsetsTable, ProgressStore, TopicMutex

TS = datetime.datetime(2025, 1, 4, 12, 0, 0)


def _df(spark, tag, n=3):
    rows = [(f"{tag}-{i}", f"p{i}", TS) for i in range(n)]
    return spark.createDataFrame(
        rows, "key string, payload string, timestamp timestamp"
    )


def test_mutex_owns_reflects_theft(tmp_path):
    m = TopicMutex(str(tmp_path), timeout_seconds=5, stale_seconds=3600)
    m.acquire("t_events")
    assert m.owns("t_events") is True
    with open(m._path("t_events"), "w") as f:  # thief overwrites the token
        f.write("foreign-token")
    assert m.owns("t_events") is False
    assert m.owns("never_acquired") is False


def test_mutex_steal_race_restores_live_lock(tmp_path, monkeypatch):
    """Same TOCTOU guard as streaming.lock (review r5): a release + fresh
    acquire landing between the staleness check and the rename must not
    lose the live lock."""
    import time as _time

    breaker = TopicMutex(str(tmp_path), timeout_seconds=1, stale_seconds=10)
    stale = TopicMutex(str(tmp_path), timeout_seconds=5, stale_seconds=10)
    stale.acquire("t_events")
    # silence the stale holder's heartbeat, then age the lock
    stale._held[stale._held_key("t_events")][1].set()
    path = stale._path("t_events")
    os.utime(path, (0, 0))

    live = TopicMutex(str(tmp_path), timeout_seconds=5, stale_seconds=10)
    orig_getmtime = os.path.getmtime
    swapped = {"done": False}

    def getmtime_then_swap(p):
        out = orig_getmtime(p)
        if p == path and not swapped["done"] and (_time.time() - out) > 10:
            swapped["done"] = True
            os.unlink(path)  # stale holder releases...
            live.acquire("t_events")  # ...and a live writer acquires
        return out

    monkeypatch.setattr(os.path, "getmtime", getmtime_then_swap)
    with pytest.raises(TimeoutError):
        breaker.acquire("t_events")  # live lock correctly blocks the breaker
    monkeypatch.undo()
    assert swapped["done"]
    assert live.owns("t_events") is True  # survived the attempted steal
    leftovers = [p for p in os.listdir(tmp_path) if ".stale." in p]
    assert leftovers == []


def test_owns_holds_through_a_breakers_restore(tmp_path, monkeypatch):
    """While a breaker restores a live lock it buried (``os.link`` after
    the rename), the lock file is missing; the live holder's ``owns``
    inside that window must still report the mutex held, or a live
    append aborts with "lost the topic mutex"."""
    stale = TopicMutex(str(tmp_path), timeout_seconds=5, stale_seconds=10)
    live = TopicMutex(str(tmp_path), timeout_seconds=5, stale_seconds=10)
    breaker = TopicMutex(str(tmp_path), timeout_seconds=1, stale_seconds=10)
    stale.acquire("t_events")
    stale._held[stale._held_key("t_events")][1].set()  # heartbeat dies
    path = stale._path("t_events")
    os.utime(path, (0, 0))
    real_rename, real_link = os.rename, os.link
    owned, swapped = [], []

    def release_and_acquire_then_rename(src, dst):
        if src == path and not swapped:
            swapped.append(src)
            os.unlink(src)  # the stale holder releases...
            live.acquire("t_events")  # ...and a live writer acquires
        real_rename(src, dst)

    def owns_then_link(src, dst):
        restore = threading.Timer(0.02, real_link, (src, dst))
        restore.start()
        owned.append(live.owns("t_events"))  # the file is missing right now
        restore.join()

    monkeypatch.setattr(os, "rename", release_and_acquire_then_rename)
    monkeypatch.setattr(os, "link", owns_then_link)
    with pytest.raises(TimeoutError):
        breaker.acquire("t_events")
    monkeypatch.undo()
    assert owned == [True]
    assert live.owns("t_events") is True
    live.release("t_events")


def test_append_aborts_when_mutex_stolen_before_commit(spark, tmp_path, monkeypatch):
    """The MERGE-guard: ownership re-verified at the commit point; a stolen
    mutex aborts the append BEFORE its log entry, committing nothing."""
    store = EventStore(spark, str(tmp_path / "store"))
    store.append("mw_events", _df(spark, "seed"))

    def stolen(topic):
        return False

    monkeypatch.setattr(store._append_mutex, "owns", stolen)
    with pytest.raises(RuntimeError, match="lost the topic mutex"):
        store.append("mw_events", _df(spark, "late"))
    monkeypatch.undo()
    # nothing committed: no data from the aborted batch
    assert store.read_events("mw_events").where("key like 'late%'").count() == 0
    cur = store.append("mw_events", _df(spark, "retry"))
    # the guard fired BEFORE the log entry, so the retry takes the
    # aborted append's lsn: seed=1, retry=2
    assert cur.lsn == 2


def test_append_stolen_before_staging_spares_the_thiefs_rows(spark, tmp_path, monkeypatch):
    """Writer A holds the topic mutex and pauses before staging its data;
    writer B breaks the lease and appends, and A resumes while B's files
    sit in B's staging directory. A stages apart from B, so it neither
    deletes nor moves B's files: B commits every row, A aborts at its
    log entry, and A's retry lands after B's."""
    from event_store_spark.core import store as store_module
    from event_store_spark.core.state import Lease

    root = str(tmp_path / "store")
    a, b = EventStore(spark, root), EventStore(spark, root)
    a.append("mw_events", _df(spark, "seed"))
    a_paused, resume_a, a_errors = threading.Event(), threading.Event(), []
    real_row_bytes, real_move_into = store_module._row_bytes, store_module._move_into

    def row_bytes(schema):  # A's pause point: mutex held, nothing staged
        if threading.current_thread() is writer_a:
            a_paused.set()
            resume_a.wait(120)
        return real_row_bytes(schema)

    def move_into(staging, path):  # B's files are staged: A resumes
        if threading.current_thread() is not writer_a and not resume_a.is_set():
            resume_a.set()
            writer_a.join(300)
        return real_move_into(staging, path)

    def append_a():
        try:
            a.append("mw_events", _df(spark, "a"))
        except RuntimeError as e:
            a_errors.append(e)

    monkeypatch.setattr(store_module, "_row_bytes", row_bytes)
    monkeypatch.setattr(store_module, "_move_into", move_into)
    writer_a = threading.Thread(target=append_a)
    writer_a.start()
    assert a_paused.wait(120)
    with monkeypatch.context() as m:
        m.setattr(Lease, "_stale", lambda lease: True)  # A's lease looks orphaned
        b_cursor = b.append("mw_events", _df(spark, "b"))
    assert not writer_a.is_alive()
    assert len(a_errors) == 1 and "lost the topic mutex" in str(a_errors[0])
    assert b_cursor.lsn == 2
    assert a.append("mw_events", _df(spark, "a")).lsn == 3
    keys = sorted(bytes(r.key).decode() for r in a.read_events("mw_events").collect())
    assert keys == sorted(f"{t}-{i}" for t in ("seed", "a", "b") for i in range(3))
    assert a.high_water("mw_events")["total"] == 9


def test_two_instances_interleaved_appends_one_lsn_each(spark, tmp_path):
    """Two EventStore instances over the SAME root (the two-driver
    deployment): interleaved appends serialize on the shared lock files;
    every append gets a distinct lsn, all rows land, replay order is a
    total (lsn, id) order with no collisions."""
    root = str(tmp_path / "store")
    a = EventStore(spark, root)
    b = EventStore(spark, root)
    for i in range(3):
        a.append("mw2_events", _df(spark, f"a{i}", n=2))
        b.append("mw2_events", _df(spark, f"b{i}", n=2))
    rows = a.read_events("mw2_events").select("lsn", "id", "key").collect()
    assert len(rows) == 12
    lsns = sorted({r.lsn for r in rows})
    assert lsns == list(range(1, 7))  # six appends, six distinct lsns
    # (lsn, id) is unique — the cursor invariant multi-writer must keep
    assert len({(r.lsn, r.id) for r in rows}) == 12


def test_two_threads_racing_appends_distinct_lsns(spark, tmp_path):
    """Genuinely concurrent appends from two threads sharing nothing but
    the filesystem: the mutex serializes them; lsns stay distinct and
    every row survives."""
    root = str(tmp_path / "store")
    errors: list[Exception] = []

    def writer(tag):
        try:
            st = EventStore(spark, root)
            for i in range(3):
                st.append("mw3_events", _df(spark, f"{tag}{i}", n=2))
        except Exception as e:  # pragma: no cover - failure path
            errors.append(e)

    t1 = threading.Thread(target=writer, args=("x",))
    t2 = threading.Thread(target=writer, args=("y",))
    t1.start(), t2.start()
    t1.join(120), t2.join(120)
    assert errors == []
    st = EventStore(spark, root)
    rows = st.read_events("mw3_events").select("lsn", "id", "key").collect()
    assert len(rows) == 12
    assert len({r.lsn for r in rows}) == 6  # every append a distinct lsn
    assert len({(r.lsn, r.id) for r in rows}) == 12


def test_owns_is_thread_scoped_after_theft(tmp_path):
    """Review r5: with per-topic bookkeeping, a sibling thread's fresh
    acquire after this thread's lock was stolen made the victim's owns()
    compare the sibling's token against itself (guard bypassed) and its
    release() unlink the sibling's LIVE lock. The bookkeeping is now
    keyed per (topic, thread): the victim sees owns()==False and its
    release leaves the sibling's lock intact."""
    m = TopicMutex(str(tmp_path), timeout_seconds=5, stale_seconds=3600)
    acquired = threading.Event()
    proceed = threading.Event()
    result: dict[str, object] = {}

    def victim():
        m.acquire("tv_events")
        acquired.set()
        proceed.wait(30)
        result["owns"] = m.owns("tv_events")
        m.release("tv_events")  # must NOT unlink the sibling's live lock

    t = threading.Thread(target=victim)
    t.start()
    assert acquired.wait(10)
    # external theft: the victim's lock vanishes and the MAIN thread (a
    # sibling of the victim on the same instance) acquires fresh
    os.unlink(m._path("tv_events"))
    m.acquire("tv_events")
    proceed.set()
    t.join(30)
    assert result["owns"] is False  # victim's guard fires
    assert m.owns("tv_events") is True  # sibling's lock survived the release
    m.release("tv_events")


# ------------------------------------------------------ shared state files

#: saves per writer in the state-file races
_SAVES = 300


def _offsets_save(store, topic, i):
    # both write paths of the table, alternately
    if i % 2:
        store.upsert(topic, i, batch_id=i)
    else:
        store.upsert_many(topic, [(0, i, i, None, None)])


#: store → (save value i on a topic, the value a topic reads back)
_STATE_FILES = {
    ProgressStore: (
        lambda store, topic, i: store.save(topic, Cursor(i, 0), batch_id=i),
        lambda store, topic: store.last_batch_id(topic),
    ),
    OffsetsTable: (_offsets_save, lambda store, topic: store.get(topic)),
}


@pytest.mark.parametrize("kind", list(_STATE_FILES), ids=lambda k: k.__name__)
def test_concurrent_state_file_writers_lose_no_update(tmp_path, kind):
    """Two writers, each with its own store over ONE file, save to their
    own topic concurrently. Every update is a read-modify-write of the
    whole file, so an unlocked writer can replace the file with a copy
    read before the other's save: that save is lost (a reverted progress
    cursor replicates again, a reverted offset undercounts for good). Every save
    must read back its own value, and the file must end exact."""
    save, read = _STATE_FILES[kind]
    path = str(tmp_path / "state.json")
    topics = ("a_events", "b_events")
    reverted, errors = [], []
    start = threading.Barrier(len(topics))

    def writer(topic):
        try:
            store = kind(path)
            start.wait(30)
            for i in range(1, _SAVES + 1):
                save(store, topic, i)
                if read(store, topic) != i:
                    reverted.append((topic, i))
        except Exception as e:  # pragma: no cover - failure diagnostics
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(t,)) for t in topics]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the writers' read-modify-writes
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert reverted == []
    final = kind(path)
    assert [read(final, t) for t in topics] == [_SAVES, _SAVES]
    assert not os.path.exists(path + ".lock")
