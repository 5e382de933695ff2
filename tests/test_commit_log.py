"""The topic commit log (``<topic>/_spark_metadata``): one visibility point
per append and per compaction; and the consumers of the log.

- a compaction keeps an append that commits while it rewrites;
- a crash at any side effect of an append or a compaction leaves each lsn
  all-or-nothing, with no duplicate and no reissued lsn, and a failed
  append leaves no trace in the gauges the log gives;
- the log is Spark's own file-sink format: batch reads, day-range reads
  and file streams all see exactly the logged files, in commit order;
- a topic written before the log existed keeps its rows and its stream
  checkpoints across its first new append;
- a crash at any side effect of the Replicator or the Subscription, then
  a restart, replicates and delivers every event exactly once.
"""

from __future__ import annotations

import datetime
import os
import shutil
import zlib

import pytest
from pyspark.sql import DataFrameWriter

from event_store_spark.core import EventStore
from event_store_spark.core import store as store_module
from event_store_spark.core.cursor import Cursor
from event_store_spark.core.state import OffsetsTable, ProgressStore
from event_store_spark.streaming import Replicator, Subscription

TS = datetime.datetime(2025, 1, 4, 21, 13, 41, 442000)
TOPIC = "log_events"


def _batch(spark, tag, n=6):
    """``n`` rows over two days, in three input partitions."""
    rows = [
        (f"k{tag}-{i}", f"{tag}-{i}", TS + datetime.timedelta(days=i % 2))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "key string, payload string, timestamp timestamp")
    return df.repartition(3), sorted(r[1] for r in rows)


def _by_lsn(store, topic=TOPIC):
    """lsn → sorted payloads of the rows a replay returns; fails on a
    duplicate (lsn, id)."""
    got = [(r.lsn, r.id, r.payload) for r in store.replay(topic).collect()]
    assert len({(lsn, i) for lsn, i, _ in got}) == len(got), "duplicate (lsn, id)"
    out: dict[int, list[str]] = {}
    for lsn, _, payload in got:
        out.setdefault(lsn, []).append(payload)
    return {lsn: sorted(p) for lsn, p in out.items()}


def test_compaction_keeps_an_append_committed_while_it_rewrites(
    spark, tmp_path, monkeypatch
):
    """An append that commits after compact has read the topic and before
    it publishes stays visible: the snapshot names every file logged after
    the version compact read. Regression: swapping in a rewritten
    directory deleted that append with the replaced files."""
    store = EventStore(spark, str(tmp_path / "store"))
    for b in range(2):
        store.append(TOPIC, _batch(spark, b, 3)[0])
    real = DataFrameWriter.parquet
    fired = []

    def write_then_append(self, path, *args, **kwargs):
        real(self, path, *args, **kwargs)
        if "compact" in os.path.basename(path) and not fired:
            fired.append(path)
            store.append(TOPIC, _batch(spark, 2, 3)[0])

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_append)
    store.compact(TOPIC, target_files=1)
    assert fired
    df = store.read_events(TOPIC)
    assert df.count() == 9
    assert sorted(r.lsn for r in df.select("lsn").distinct().collect()) == [1, 2, 3]
    assert store.high_water(TOPIC)["total"] == df.count()


class _Crash(Exception):
    pass


class _Faults:
    """Counts side effects while armed and raises at the armed one."""

    armed = None
    seen = 0

    def arm(self, k):
        self.armed, self.seen = k, 0

    def disarm(self):
        """Disarm; True if the armed side effect was reached."""
        fired = self.armed is not None and self.seen >= self.armed
        self.armed = None
        return fired

    def hit(self):
        if self.armed is not None:
            self.seen += 1
            if self.seen == self.armed:
                raise _Crash(f"injected at side effect {self.seen}")

    def counted(self, fn, applies=lambda *a, **k: True):
        """``fn``, counting a side effect before each call ``applies`` to."""

        def wrapped(*args, **kwargs):
            if applies(*args, **kwargs):
                self.hit()
            return fn(*args, **kwargs)

        return wrapped


@pytest.fixture
def faults(monkeypatch):
    """Counts the store's side effects — the staging (parquet) write, each
    file move out of staging and each ``atomic_write`` (a topic's first
    append writes its descriptor with one, and every log entry is one) —
    and raises at the armed one."""
    f = _Faults()

    def writes_staging(_writer, path, *args, **kwargs):
        return "_staging" in path

    def moves_out_of_staging(src, *args, **kwargs):
        return "_staging" in str(src)

    monkeypatch.setattr(
        DataFrameWriter, "parquet", f.counted(DataFrameWriter.parquet, writes_staging)
    )
    monkeypatch.setattr(os, "rename", f.counted(os.rename, moves_out_of_staging))
    monkeypatch.setattr(store_module, "atomic_write", f.counted(store_module.atomic_write))
    return f


def _check_records(store, committed, where):
    """Replay returns the ``committed`` batches (lsn → payloads), and the
    gauges the commit log gives agree: ``high_water``'s row total and the
    lag of a cursor at zero, the largest committed lsn."""
    if committed:
        assert _by_lsn(store) == committed, where
    else:
        assert store.log_files(TOPIC) == [], where
    high_water = store.high_water(TOPIC) or {"total": 0}
    assert high_water["total"] == sum(len(p) for p in committed.values()), where
    assert store.lag(TOPIC, Cursor.zero()) == max(committed, default=0), where


@pytest.mark.parametrize("layout", ["single", "multi", "day"])
def test_append_crash_sweep(spark, tmp_path, monkeypatch, faults, layout):
    """Make the k-th side effect of an append raise, for every k until the
    append completes; after each, a fresh store on the same root retries.
    A topic's first append (whose first side effect is its descriptor
    write) is swept on a new root per k, then later appends on the last
    one. Each lsn is all-or-nothing, no (lsn, id) repeats, replay equals
    the committed batches, every append takes the lsn after the last
    committed one, and the gauges equal what the committed rows give.
    ``multi`` lowers the file target so one append writes several files."""
    if layout == "multi":
        monkeypatch.setattr(store_module, "TARGET_FILE_BYTES", 1)
    day = layout == "day"

    def attempt(root, committed, k):
        """Append with side effect ``k`` armed, then check and, after a
        crash, retry from a fresh store; True if side effect ``k`` ran."""
        store = EventStore(spark, root)
        df, payloads = _batch(spark, k)
        faults.arm(k)
        try:
            cursor = store.append(TOPIC, df, partition_by_day=day)
        except _Crash:
            cursor = None
        fired = faults.disarm()
        store = EventStore(spark, root)
        if cursor is None:
            _check_records(store, committed, f"crash at side effect {k}")
            cursor = store.append(TOPIC, df, partition_by_day=day)
        assert cursor.lsn == max(committed, default=0) + 1, "lsn reissued or skipped"
        committed[cursor.lsn] = payloads
        _check_records(store, committed, f"retry after side effect {k}")
        return fired

    first = 0
    while True:
        first += 1
        root, committed = str(tmp_path / f"first{first}"), {}
        if not attempt(root, committed, first):
            break
    later = 0
    while True:
        later += 1
        if not attempt(root, committed, later):
            break
    # the sweeps reached past the descriptor, the staging write and a move
    assert first > 3 and later > 2


def test_failed_append_leaves_consumer_lags_at_zero(spark, tmp_path, monkeypatch):
    """An append whose staging write fails leaves no trace: drained after
    it, neither the Replicator nor the Subscription lags, and after one
    more append and drain neither does. Regression: the append ticket
    reserved the failed batch's lsn and rows, so the replicator lagged by
    one lsn and the subscription by the failed rows until a repair."""
    store = EventStore(spark, str(tmp_path / "store"))
    for b in range(2):
        store.append(TOPIC, _batch(spark, b, 3)[0])
    rep = Replicator(store, str(tmp_path / "target"), ProgressStore(str(tmp_path / "p.json")))
    sub = Subscription(store, OffsetsTable(str(tmp_path / "o.json")), str(tmp_path / "ck"))
    seen = []

    def drain_and_lags():
        rep.replicate(TOPIC).awaitTermination(120)
        sub.run(TOPIC, lambda df, _id: seen.extend(r.payload for r in df.collect()))
        return rep.lag(TOPIC), sub.lag(TOPIC)

    real = DataFrameWriter.parquet

    def fail_staging(self, path, *args, **kwargs):
        if "_staging" in path:
            raise _Crash("staging write failed")
        return real(self, path, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", fail_staging)
        with pytest.raises(_Crash):
            store.append(TOPIC, _batch(spark, "lost", 5)[0])
    assert drain_and_lags() == (0, 0)
    assert store.high_water(TOPIC)["total"] == 6 and store.lag(TOPIC, Cursor.zero()) == 2
    assert store.append(TOPIC, _batch(spark, 2, 3)[0]).lsn == 3
    assert drain_and_lags() == (0, 0)
    assert sorted(seen) == sorted(p for b in range(3) for p in _batch(spark, b, 3)[1])


@pytest.mark.parametrize("layout", ["flat", "day"])
def test_compact_crash_sweep(spark, tmp_path, faults, layout):
    """The same sweep over compaction: a crash at any of its side effects
    (staging write, file moves, empty padding entries, the snapshot) leaves
    the pre-compaction rows visible, and a retry from a fresh store
    compacts them without loss or duplication."""
    root = str(tmp_path / "store")
    day = layout == "day"
    store = EventStore(spark, root)
    committed: dict[int, list[str]] = {}
    k = 0
    while True:
        k += 1
        df, payloads = _batch(spark, k)
        committed[store.append(TOPIC, df, partition_by_day=day).lsn] = payloads
        faults.arm(k)
        try:
            store.compact(TOPIC, target_files=2)
            crashed = False
        except _Crash:
            crashed = True
        fired = faults.disarm()
        store = EventStore(spark, root)
        assert _by_lsn(store) == committed, f"crash at side effect {k}"
        if crashed:
            store.compact(TOPIC, target_files=2)
            assert _by_lsn(store) == committed, f"retry after side effect {k}"
        if not fired:
            break
    assert k > 3
    # the last compaction deleted everything it replaced, crash debris too
    path = store.topic_path(TOPIC)
    on_disk = {os.path.realpath(f) for f in store_module._disk_files(path)}
    logged = {os.path.realpath(store_module._local(f.path)) for f in store.log_files(TOPIC)}
    assert on_disk == logged


def _stream_batches(spark, store, topic, checkpoint, max_files=None):
    """Drain the topic with an ``availableNow`` file stream; returns the
    (lsn, id) pairs of each micro-batch, sorted within it."""
    batches = []
    reader = spark.readStream.schema(store.event_schema(topic))
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    query = (
        reader.parquet(store.topic_path(topic))
        .writeStream.foreachBatch(
            lambda df, _id: batches.append(sorted((r.lsn, r.id) for r in df.collect()))
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return batches


@pytest.mark.parametrize("layout", ["flat", "day"])
def test_log_is_sparks_file_sink_format(spark, tmp_path, layout):
    """25 appends (two full snapshot intervals), a compaction, 3 more
    appends: the log keeps Spark's snapshot rule, and a batch read, a
    day-range read (with partition pruning) and a one-file-per-trigger
    stream (in ascending (lsn, id) across micro-batches) all match
    replay."""
    day = layout == "day"
    store = EventStore(spark, str(tmp_path / "store"))
    for b in range(25):
        store.append(TOPIC, _batch(spark, b, 4)[0], partition_by_day=day)
    log = os.path.join(store.topic_path(TOPIC), store_module.LOG_DIR)
    assert sorted(os.listdir(log), key=lambda n: int(n.split(".")[0])) == [
        "19.compact", "20", "21", "22", "23", "24",
    ]
    store.compact(TOPIC, target_files=3)
    for b in range(25, 28):
        store.append(TOPIC, _batch(spark, b, 4)[0], partition_by_day=day)
    assert sorted(os.listdir(log)) == ["29.compact", "30", "31", "32"]

    replay = [(r.lsn, r.id) for r in store.replay(TOPIC).collect()]
    assert len(replay) == 28 * 4
    path = store.topic_path(TOPIC)
    plain = spark.read.parquet(path)
    assert sorted((r.lsn, r.id) for r in plain.collect()) == replay
    if day:
        first = store.read_events(TOPIC, start_day="2025-01-04", end_day="2025-01-04")
        plan = first._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan and "PartitionFilters: []" not in plan
        whole = store.read_events(TOPIC).where("dt = '2025-01-04'")
        assert sorted((r.lsn, r.id) for r in first.collect()) == sorted(
            (r.lsn, r.id) for r in whole.collect()
        )
        assert first.count() == 28 * 2
    else:
        # a stray file the log does not name stays invisible
        stray = os.path.join(path, "part-99999-stray.parquet")
        shutil.copy(store_module._local(store.log_files(TOPIC)[0].path), stray)
        batches = _stream_batches(spark, store, TOPIC, str(tmp_path / "ck"), 1)
        assert len(batches) == 6  # 3 compacted files + 3 appends
        delivered = [pair for batch in batches for pair in batch]
        assert delivered == replay  # ascending across micro-batches
        assert spark.read.parquet(path).count() == len(replay)


def test_topic_without_log_adopts_its_files(spark, tmp_path):
    """A topic written before the commit log (parquet files, no log and no
    descriptor) replays the same before and after its first new append,
    and a stream checkpoint taken over the old listing sees only the new
    rows."""
    store = EventStore(spark, str(tmp_path / "store"))
    for b in range(3):
        store.append(TOPIC, _batch(spark, b, 4)[0])
    path = store.topic_path(TOPIC)
    shutil.rmtree(os.path.join(path, store_module.LOG_DIR))
    os.remove(os.path.join(path, store_module.DESCRIPTOR))

    store = EventStore(spark, store.root)
    before = [(r.lsn, r.id, r.payload) for r in store.replay(TOPIC).collect()]
    assert len(before) == 12
    checkpoint = str(tmp_path / "ck")
    assert sum(len(b) for b in _stream_batches(spark, store, TOPIC, checkpoint)) == 12

    store.append(TOPIC, _batch(spark, "new", 4)[0])
    after = [(r.lsn, r.id, r.payload) for r in store.replay(TOPIC).collect()]
    assert after[:12] == before
    assert [lsn for lsn, _, _ in after[12:]] == [4] * 4
    assert os.listdir(os.path.join(path, store_module.LOG_DIR)) != []
    new = _stream_batches(spark, store, TOPIC, checkpoint)
    delivered = [pair for batch in new for pair in batch]
    assert delivered == [(lsn, i) for lsn, i, _ in after[12:]]


# ------------------------------------------------------ consumer crash sweep


class _Projection:
    """A processor whose effect commits with its batch's offsets, as the
    reference's projection and offset share one DB transaction: a batch
    is staged, and the offsets upsert that records it moves its per-lsn
    (count, CRC) into ``by_lsn``. A crash drops what is staged."""

    def __init__(self, faults):
        self.faults = faults
        self.staged: dict[int, list] = {}
        self.by_lsn: dict[int, tuple[int, int]] = {}

    def __call__(self, df, batch_id):
        self.faults.hit()
        self.staged[batch_id] = df.select("lsn", "payload").collect()

    def commit(self, batch_id):
        for r in self.staged.pop(batch_id, ()):
            n, crc = self.by_lsn.get(r.lsn, (0, 0))
            self.by_lsn[r.lsn] = (n + 1, crc + zlib.crc32(r.payload.encode()))


@pytest.fixture
def consumer_faults(monkeypatch):
    """Counts the consumers' side effects — each batch's pending plan, the
    Replicator's target directory write and progress save, the
    Subscription's processor (the `_Projection` counts its own call) and
    offset upsert — and raises at the armed one. Returns the faults and
    the projection."""
    f = _Faults()
    projection = _Projection(f)
    upsert = OffsetsTable.upsert

    def upsert_and_commit(self, *args, **kwargs):
        f.hit()
        upsert(self, *args, **kwargs)
        projection.commit(kwargs["batch_id"])

    def writes_target(_writer, path, *args, **kwargs):
        return "cursor=" in path

    monkeypatch.setattr(
        DataFrameWriter, "parquet", f.counted(DataFrameWriter.parquet, writes_target)
    )
    monkeypatch.setattr(ProgressStore, "save", f.counted(ProgressStore.save))
    monkeypatch.setattr(OffsetsTable, "upsert", upsert_and_commit)
    for book in (ProgressStore, OffsetsTable):
        monkeypatch.setattr(book, "plan", f.counted(book.plan))
    return f, projection


def _drained(start) -> bool:
    """Start a query with ``start()`` and wait for it; False if an
    injected crash stopped it."""
    try:
        start().awaitTermination(120)
        return True
    except Exception as e:  # the streaming wrapper of the injected crash
        if "injected at side effect" not in str(e):
            raise
        return False


@pytest.mark.parametrize("restart", ["same", "lost"])
def test_consumer_crash_sweep(spark, tmp_path, consumer_faults, restart):
    """Make the k-th side effect of a replicate-then-subscribe run over
    three appends (one batch each) raise, for every k until a run
    completes; then restart both consumers, on the same checkpoint roots
    or on lost ones (which the consumers never created), with no batch
    size cap, so a crashed batch is rerun and the rest read as one.
    After every restart the ingest invariants hold: the subscriber
    committed each lsn's count and CRC once, the target holds every event
    once, neither consumer lags, and replay returns the events sent."""
    faults, projection = consumer_faults
    store = EventStore(spark, str(tmp_path / "store"))
    sent: dict[int, list[str]] = {}
    for b in range(3):
        df, payloads = _batch(spark, b, 4)
        sent[store.append(TOPIC, df).lsn] = payloads
    want = {
        lsn: (len(p), sum(zlib.crc32(x.encode()) for x in p)) for lsn, p in sent.items()
    }

    def consumers(run, max_files):
        return (
            Replicator(
                store, str(run / "target"), ProgressStore(str(run / "progress.json")),
                str(run / "ck" / "rep"), max_files_per_trigger=max_files,
            ),
            Subscription(
                store, OffsetsTable(str(run / "offsets.json")),
                str(run / "ck" / "sub"), max_files_per_trigger=max_files,
            ),
        )

    k = 0
    while True:
        k += 1
        run = tmp_path / f"run{k}"
        projection.by_lsn.clear()
        rep, sub = consumers(run, 1)
        faults.arm(k)
        if _drained(lambda: rep.replicate(TOPIC)):
            _drained(lambda: sub.run(TOPIC, projection))
        fired = faults.disarm()
        projection.staged.clear()
        assert not (run / "ck").exists()
        if restart == "lost":
            shutil.rmtree(run / "ck", ignore_errors=True)
        rep, sub = consumers(run, None)
        assert _drained(lambda: rep.replicate(TOPIC))
        assert _drained(lambda: sub.run(TOPIC, projection))

        where = f"crash at side effect {k}, restart on the {restart} checkpoint"
        assert projection.by_lsn == want, where
        target = [
            (r.lsn, r.id, r.value.decode())
            for r in spark.read.parquet(rep.target_path(TOPIC)).collect()
        ]
        assert len({(lsn, i) for lsn, i, _ in target}) == len(target), where
        replicated: dict[int, list[str]] = {}
        for lsn, _, payload in target:
            replicated.setdefault(lsn, []).append(payload)
        assert {lsn: sorted(p) for lsn, p in replicated.items()} == sent, where
        assert (rep.lag(TOPIC), sub.lag(TOPIC)) == (0, 0), where
        assert _by_lsn(store) == sent, where
        if not fired:
            break
    # 3 batches x (plan, directory, progress) + 3 x (plan, processor, offsets)
    assert k == 19
