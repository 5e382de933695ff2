"""The topic commit log (``<topic>/_spark_metadata``): one visibility point
per append and per compaction.

- a compaction keeps an append that commits while it rewrites;
- a crash at any side effect of an append or a compaction leaves each lsn
  all-or-nothing, with no duplicate and no reissued lsn;
- the log is Spark's own file-sink format: batch reads, day-range reads
  and file streams all see exactly the logged files, in commit order;
- a topic written before the log existed keeps its rows and its stream
  checkpoints across its first new append.
"""

from __future__ import annotations

import datetime
import os
import shutil

import pytest
from pyspark.sql import DataFrameWriter

from event_store_spark.core import EventStore
from event_store_spark.core import store as store_module
from event_store_spark.core.state import TicketStore

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


@pytest.fixture
def faults(monkeypatch):
    """Counts the store's side effects — the staging (parquet) write, each
    file move out of staging, each log-entry ``atomic_write`` and each
    ``TicketStore.save`` — and raises at the armed one."""

    class Faults:
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

    f = Faults()

    def counted(fn, applies=lambda *a, **k: True):
        def wrapped(*args, **kwargs):
            if applies(*args, **kwargs):
                f.hit()
            return fn(*args, **kwargs)

        return wrapped

    def writes_staging(_writer, path, *args, **kwargs):
        return "_staging" in path

    def moves_out_of_staging(src, *args, **kwargs):
        return "_staging" in str(src)

    monkeypatch.setattr(
        DataFrameWriter, "parquet", counted(DataFrameWriter.parquet, writes_staging)
    )
    monkeypatch.setattr(os, "rename", counted(os.rename, moves_out_of_staging))
    monkeypatch.setattr(TicketStore, "save", counted(TicketStore.save))
    monkeypatch.setattr(store_module, "atomic_write", counted(store_module.atomic_write))
    return f


@pytest.mark.parametrize("layout", ["single", "multi", "day"])
def test_append_crash_sweep(spark, tmp_path, monkeypatch, faults, layout):
    """Make the k-th side effect of an append raise, for every k until the
    append completes; after each, a fresh store on the same root retries.
    Each lsn is all-or-nothing, no (lsn, id) repeats, replay equals the
    committed batches and no lsn is issued twice. ``multi`` lowers the file
    target so one append writes several files."""
    if layout == "multi":
        monkeypatch.setattr(store_module, "TARGET_FILE_BYTES", 1)
    root = str(tmp_path / "store")
    store = EventStore(spark, root)
    committed: dict[int, list[str]] = {}
    df, payloads = _batch(spark, "seed")
    committed[store.append(TOPIC, df, partition_by_day=layout == "day").lsn] = payloads
    k = 0
    while True:
        k += 1
        df, payloads = _batch(spark, k)
        faults.arm(k)
        try:
            cursor = store.append(TOPIC, df, partition_by_day=layout == "day")
        except _Crash:
            cursor = None
        fired = faults.disarm()
        store = EventStore(spark, root)
        if cursor is None:
            assert _by_lsn(store) == committed, f"crash at side effect {k}"
            cursor = store.append(TOPIC, df, partition_by_day=layout == "day")
        assert cursor.lsn > max(committed), "lsn reissued"
        committed[cursor.lsn] = payloads
        assert _by_lsn(store) == committed, f"retry after side effect {k}"
        if not fired:
            break
    assert k > 3  # the sweep reached past the ticket save and the write


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
    assert on_disk == {os.path.realpath(f) for f in EventStore._parquet_files(path)}


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
        shutil.copy(EventStore._parquet_files(path)[0], stray)
        batches = _stream_batches(spark, store, TOPIC, str(tmp_path / "ck"), 1)
        assert len(batches) == 6  # 3 compacted files + 3 appends
        delivered = [pair for batch in batches for pair in batch]
        assert delivered == replay  # ascending across micro-batches
        assert spark.read.parquet(path).count() == len(replay)


def test_topic_without_log_adopts_its_files(spark, tmp_path):
    """A topic written before the commit log (parquet files plus a ticket
    with a publication clock, no log) replays the same before and after its
    first new append, and a stream checkpoint taken over the old listing
    sees only the new rows."""
    store = EventStore(spark, str(tmp_path / "store"))
    for b in range(3):
        store.append(TOPIC, _batch(spark, b, 4)[0])
    path = store.topic_path(TOPIC)
    shutil.rmtree(os.path.join(path, store_module.LOG_DIR))
    data = store._tickets._read()
    data[TOPIC]["clock"] = 1
    store._tickets._write(data)

    store = EventStore(spark, store.root)
    before = [(r.lsn, r.id, r.payload) for r in store.replay(TOPIC).collect()]
    assert len(before) == 12
    checkpoint = str(tmp_path / "ck")
    assert sum(len(b) for b in _stream_batches(spark, store, TOPIC, checkpoint)) == 12

    store.append(TOPIC, _batch(spark, "new", 4)[0])
    after = [(r.lsn, r.id, r.payload) for r in store.replay(TOPIC).collect()]
    assert after[:12] == before
    assert [lsn for lsn, _, _ in after[12:]] == [4] * 4
    assert "clock" not in store.high_water(TOPIC)
    assert os.listdir(os.path.join(path, store_module.LOG_DIR)) != []
    new = _stream_batches(spark, store, TOPIC, checkpoint)
    delivered = [pair for batch in new for pair in batch]
    assert delivered == [(lsn, i) for lsn, i, _ in after[12:]]
