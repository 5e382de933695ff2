"""Keyset batches planned from the commit log's per-file bounds.

- every log line carries its file's row count and (lsn, id) bounds, from
  the footer, after each kind of append, a compaction (plain and
  Z-ordered) and the adoption of a topic written before the log; a line
  without them is read from its footer;
- a one-file cap splits a multi-file append at file boundaries and still
  delivers exactly once;
- a compaction between drains, even one whose files overlap in (lsn, id)
  and straddle the consumers' cursors, redelivers nothing.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil

import pyarrow.parquet as pq
import pytest

from event_store_spark.core import EventStore
from event_store_spark.core import store as store_module
from event_store_spark.core.cursor import Cursor
from event_store_spark.core.state import OffsetsTable, ProgressStore
from event_store_spark.streaming import Replicator, Subscription
from event_store_spark.streaming.keyset import plan

TS = datetime.datetime(2025, 1, 4, 21, 13, 41, 442000)
TOPIC = "ks_events"


def _append(spark, store, tag, n=6, parts=3, day=False):
    rows = [
        (f"k{tag}-{i}", f"{tag}-{i}", TS + datetime.timedelta(days=i % 2))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "key string, payload string, timestamp timestamp")
    return store.append(TOPIC, df.repartition(parts), partition_by_day=day)


def _true_bounds(path):
    """(rows, lowest (lsn, id), highest (lsn, id)) of a data file's rows."""
    t = pq.read_table(store_module._local(path), columns=["lsn", "id"])
    pairs = sorted(zip(t["lsn"].to_pylist(), t["id"].to_pylist()))
    return len(pairs), Cursor(*pairs[0]), Cursor(*pairs[-1])


def _lines(store):
    log = os.path.join(store.topic_path(TOPIC), store_module.LOG_DIR)
    return store_module._read_log(log)[1]


def _check_bounds(store, exact):
    lines = _lines(store)
    assert lines and all({"rows", "low", "high"} <= set(line) for line in lines)
    for f in store.log_files(TOPIC):
        rows, low, high = _true_bounds(f.path)
        assert f.rows == rows
        if exact:
            assert (f.low, f.high) == (low, high)
        else:
            assert f.low <= low and high <= f.high


@pytest.mark.parametrize("layout", ["flat", "multi", "day"])
def test_every_logged_file_carries_its_bounds(spark, tmp_path, monkeypatch, layout):
    """Appends log exact bounds (one lsn per file); a compaction, plain or
    Z-ordered, logs bounds that cover its files' rows; lines logged
    before lines carried bounds get the same bounds from the footers,
    written back to the log once, and so does the legacy entry of a topic
    written before the log."""
    if layout == "multi":
        monkeypatch.setattr(store_module, "TARGET_FILE_BYTES", 1)
    day = layout == "day"
    store = EventStore(spark, str(tmp_path / "store"))
    for b in range(3):
        _append(spark, store, b, day=day)
    assert len(store.log_files(TOPIC)) == (3 if layout == "flat" else len(_lines(store)))
    _check_bounds(store, exact=True)

    # a log written before lines carried bounds: the footers answer
    want = store.log_files(TOPIC)
    log = os.path.join(store.topic_path(TOPIC), store_module.LOG_DIR)
    for name in os.listdir(log):
        entry = os.path.join(log, name)
        head, *lines = open(entry).read().splitlines()
        bare = [
            {k: v for k, v in json.loads(ln).items() if k not in ("rows", "low", "high")}
            for ln in lines
        ]
        with open(entry, "w") as f:
            f.write("\n".join([head, *(json.dumps(ln) for ln in bare)]))
    assert "rows" not in _lines(store)[0]
    assert store.log_files(TOPIC) == want
    assert all("rows" in line for line in _lines(store))

    # a topic written before the log: its adopted entry carries bounds
    shutil.rmtree(log)
    assert sorted(store.log_files(TOPIC)) == sorted(want)
    _check_bounds(store, exact=True)

    store.compact(TOPIC, target_files=2)
    _check_bounds(store, exact=False)
    if day:
        store.compact(TOPIC, target_files=3, cluster_by=("key", "lsn"))
        _check_bounds(store, exact=False)
    assert sum(f.rows for f in store.log_files(TOPIC)) == 18


def test_plan_takes_whole_files_and_overlaps():
    """The cap takes the files with the smallest highs; every file whose
    low is at or below the batch's high water joins; the row count is
    known only when every file lies inside the range."""
    f = store_module.LoggedFile
    files = [
        f("a", 3, Cursor(1, 0), Cursor(1, 2)),
        f("b", 3, Cursor(2, 0), Cursor(2, 2)),
        f("wide", 4, Cursor(1, 1), Cursor(3, 9)),  # a compacted, overlapping file
        f("c", 2, Cursor(3, 0), Cursor(3, 1)),
        f("empty", 0, None, None),
    ]
    first = plan(files, Cursor.zero(), max_files=1)
    assert (first.hi, first.paths, first.rows) == (Cursor(1, 2), ["a", "wide"], None)
    rest = plan(files, first.hi)
    assert (rest.hi, rest.paths) == (Cursor(3, 9), ["b", "wide", "c"])
    assert plan(files, Cursor(3, 9)) is None
    flat = files[:2]
    assert plan(flat, Cursor.zero(), max_files=5).rows == 6
    # a rerun plans (after, hi] exactly, whatever the cap
    assert plan(flat, Cursor(1, 2), max_files=1, hi=Cursor(2, 2)).paths == ["b"]
    assert plan(flat, Cursor(2, 2), hi=Cursor(2, 5)).paths == []


def _consumers(store, root, max_files):
    rep = Replicator(
        store, str(root / "target"), ProgressStore(str(root / "progress.json")),
        str(root / "rck"), max_files_per_trigger=max_files,
    )
    sub = Subscription(
        store, OffsetsTable(str(root / "offsets.json")), str(root / "sck"),
        max_files_per_trigger=max_files,
    )
    return rep, sub


def _target_pairs(spark, rep):
    return sorted((r.lsn, r.id) for r in spark.read.parquet(rep.target_path(TOPIC)).collect())


def test_one_file_batches_split_an_append_and_deliver_once(spark, tmp_path, monkeypatch):
    """A three-file append drained one file per batch runs three batches
    of one file each, named by each file's high water, and every event
    reaches the target and the processor once."""
    monkeypatch.setattr(store_module, "TARGET_FILE_BYTES", 1)
    store = EventStore(spark, str(tmp_path / "store"))
    _append(spark, store, 0)
    files = store.log_files(TOPIC)
    assert len(files) == 3
    rep, sub = _consumers(store, tmp_path, 1)
    delivered = []
    q = rep.replicate(TOPIC)
    s = sub.run(TOPIC, lambda df, b: delivered.extend((r.lsn, r.id) for r in df.collect()))
    for handle in (q, s):
        assert [(p["batchId"], p["numFiles"]) for p in handle.recentProgress] == [
            (0, 1), (1, 1), (2, 1)
        ]
        assert [p["endOffset"] for p in handle.recentProgress] == [
            f.high.serialize() for f in files
        ]
    want = sorted((r.lsn, r.id) for r in store.read_events(TOPIC).collect())
    assert _target_pairs(spark, rep) == want
    assert sorted(delivered) == want
    assert sorted(os.listdir(rep.target_path(TOPIC))) == sorted(
        f"cursor={f.high.lsn}_{f.high.id}" for f in files
    )


@pytest.mark.parametrize("cluster", [False, True])
def test_compaction_between_drains_redelivers_nothing(spark, tmp_path, cluster):
    """Consumers drain a day-partitioned topic two files per batch; two
    more appends arrive and the topic is compacted, plainly or along a
    Z-order curve, so its files overlap in (lsn, id) and straddle the
    consumers' cursors; after one more append, the drains that follow
    deliver every event exactly once."""
    store = EventStore(spark, str(tmp_path / "store"))
    for b in range(4):
        _append(spark, store, b, parts=2, day=True)
    rep, sub = _consumers(store, tmp_path, 2)
    delivered = []

    def record(df, batch_id):
        delivered.extend((r.lsn, r.id) for r in df.collect())

    def drain():
        rep.replicate(TOPIC).awaitTermination()
        sub.run(TOPIC, record).awaitTermination()

    drain()
    for b in range(4, 6):
        _append(spark, store, b, parts=2, day=True)
    store.compact(TOPIC, target_files=3, cluster_by=("key", "payload") if cluster else None)
    if cluster:
        files = store.log_files(TOPIC)
        cursor = rep.progress.last_cursor(TOPIC)
        assert any(f.low <= cursor < f.high for f in files)
    _append(spark, store, "new", parts=2, day=True)
    drain()
    want = sorted((r.lsn, r.id) for r in store.read_events(TOPIC).collect())
    assert len(want) == 42
    assert _target_pairs(spark, rep) == want
    assert sorted(delivered) == want
    assert (rep.lag(TOPIC), sub.lag(TOPIC)) == (0, 0)
