"""EventStore — append-only event tables on Parquet with (lsn, id) ordering.

The Spark-native re-expression of the reference's write/read paths:

- ``append(topic, df)`` ≙ `PostgresEventStore.save` (validate → serialize →
  [encrypt] → insert; `PostgresEventStore.java:109-142`), with one key
  difference by design (SURVEY §7 X1): the commit-order component ``lsn`` is
  assigned *synchronously inside the committed batch* as a monotone append
  epoch, so rows are immediately replicable — no async WAL-tailing stamper
  (`LsnUpdater.java`) is needed, because a Spark batch append is atomic.
- ``read_events(topic)`` / ``replay(topic, after)`` ≙ the replicator's
  ordered keyset scan `WHERE lsn IS NOT NULL AND (lsn, id) > (:lsn, :id)
  ORDER BY lsn, id` (`EventReplicatorWorker.java:66-72`).
- ``topics()`` ≙ `_events`-suffix discovery (`EventReplicator.java:197-204`).
- ``lag(topic, cursor)`` ≙ the replication-lag gauge `MAX(lsn) − cursor`
  (`EventReplicatorWorker.java:242-248`).

Scale posture: one directory per topic; each append writes parquet files
whose (lsn, id) min/max footer stats give keyset-predicate file skipping —
the same role the reference's lsn index plays. A flat append whose batch
fits :data:`TARGET_FILE_BYTES` writes ONE file, so replication,
subscription and replay handle one split per append; a larger batch (and
every day-partitioned one) writes one file per input partition. Appends
never shuffle: id assignment is `monotonically_increasing_id()`
(partition-local), and replay order is reconstructed from (lsn, id) at
read time. Appends to one topic serialize on a per-topic mutex, the
file-system analog of the reference's advisory-lock single-writer model
(`LockManager.java:45-84`).

Commit point: a topic's rows are the files its commit log names, not what
a directory listing sees. The log is Spark's own file-sink metadata log
(``<topic>/_spark_metadata``, the `FileStreamSinkLog` format), so
``spark.read.parquet(topic)`` and ``readStream.parquet(topic)`` consult it
themselves and ignore every file it does not name. An append or a
compaction moves its files into the topic directory — still invisible —
and becomes visible by ONE log entry, published by ``atomic_write``: the
role the reference's Postgres commit plays. Entries stamp their files with
modification times that increase along the log, which is the order a file
stream source picks them up in, so streams observe commit order. Entries
name absolute paths, as Spark's sink does, so a store root cannot be moved
as-is. Each line also carries its file's row count and (lsn, id) ``low``
and ``high``, read from the file's footer when it is logged (Spark's
readers ignore the extra fields); the keyset consumers plan their batches
from them (`log_files`, `streaming.keyset`), and so does a keyset read
(`read_events(after=)`). A log whose lines predate them gets them once,
from the footers, by a snapshot naming the same files.

The log is the topic's only record, as the events table is the
reference's: the next lsn is one past the largest logged ``high``, and
the high water, the lags and the row total are the largest logged
``high`` and the sum of the logged ``rows``, so an append that fails
before its entry leaves no trace in any of them. What the log does not
hold — the key type, the day layout and the row schema — is in a
write-once descriptor beside it (``<topic>/_topic.json``), which the
topic's first non-empty append writes before its data; reads pass its
schema to ``.schema(...)`` instead of running a footer-inference job.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from functools import reduce
from operator import add
from pathlib import Path
from typing import NamedTuple
from urllib.parse import quote, unquote, urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from event_store_spark.core.cursor import Cursor, keyset_after
from event_store_spark.core.envelope import (
    KEY_TYPES,
    canonical_key,
    truncate_millis,
    typed_key_view,
    validate_metadata,
)
from event_store_spark.core.state import TopicMutex, atomic_write

TOPIC_SUFFIX = "_events"

#: data-file size target shared by append and compact: an append whose
#: batch fits writes one file, and compaction sizes its output by it
TARGET_FILE_BYTES = 128 * 1024 * 1024

#: the topic's commit log directory (Spark's file-sink metadata log)
LOG_DIR = "_spark_metadata"

#: the topic's write-once descriptor: key type, day layout, row schema
DESCRIPTOR = "_topic.json"

#: Spark lists the root paths of a read with a Spark job once they are
#: more than ``spark.sql.sources.parallelPartitionDiscovery.threshold``
#: (this, its default); a keyset read naming more files reads the topic
#: directory instead (`EventStore.read_events`)
LISTING_THRESHOLD = 32

#: entry ``n`` is the full snapshot ``n.compact`` exactly when
#: ``(n + 1) % COMPACT_INTERVAL == 0``. Spark's reader derives the interval
#: from the snapshot names it finds, so this must stay Spark's default
#: ``fileSinkLog.compactInterval``; a snapshot makes every earlier entry
#: obsolete.
COMPACT_INTERVAL = 10


def _as_nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and value nullable and no field
    metadata — the shape a parquet read reports for what a write sent."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _row_bytes(schema: T.StructType) -> Column:
    """Uncompressed size of a row: byte lengths of string and binary cells,
    JSON length of nested ones, 8 per other cell. Parquet encodes smaller,
    so summed over a batch it bounds the file the batch writes."""
    sizes = []
    for f in schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, (T.StringType, T.BinaryType)):
            size = F.octet_length(c)
        elif isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType)):
            size = F.octet_length(F.to_json(c))
        else:
            size = F.lit(8)
        sizes.append(F.coalesce(size, F.lit(0)))
    return reduce(add, sizes)


def _uri(path: str) -> str:
    """``path`` as the ``file://`` URI Hadoop prints for it, so the log names
    a file exactly as a directory listing — and a stream checkpoint taken
    over that listing — does."""
    return "file://" + quote(os.path.abspath(path), safe="/=:@!$&'()*+,;-._~")


def _local(uri: str) -> str:
    return unquote(urlparse(uri).path)


def _entry_name(n: int) -> str:
    return f"{n}.compact" if (n + 1) % COMPACT_INTERVAL == 0 else str(n)


def _entry_ids(log: str) -> list[int]:
    stems = (name.removesuffix(".compact") for name in os.listdir(log))
    return [int(s) for s in stems if s.isdigit()]


def _read_log(log: str) -> tuple[int, list[dict]]:
    """The latest entry id and the files the log names, in log order: the
    newest snapshot plus every entry after it, as Spark's reader sees them."""
    while True:
        latest = max(_entry_ids(log), default=-1)
        first = max(0, (latest + 1) // COMPACT_INTERVAL * COMPACT_INTERVAL - 1)
        try:
            entries = [
                Path(log, _entry_name(n)).read_text() for n in range(first, latest + 1)
            ]
        except FileNotFoundError:  # a newer snapshot superseded them mid-read
            if max(_entry_ids(log), default=-1) == latest:
                raise
            continue
        return latest, [json.loads(ln) for e in entries for ln in e.splitlines()[1:]]


def _bounds(path: str) -> dict:
    """The row count of the data file at ``path`` and, if it has rows,
    their (lsn, id) ``low`` and ``high``, from its parquet footer (driver
    side, no Spark job). A row group of one lsn (every append's) bounds
    its rows exactly; one of several lsns (a compacted file's) is bounded
    by its lowest lsn with its lowest id and its highest lsn with its
    highest id, which may be wider than its rows, never narrower."""
    import pyarrow.parquet as pq

    meta = pq.read_metadata(path)
    leaf = {meta.schema.column(i).path: i for i in range(meta.num_columns)}
    lows, highs = [], []
    for g in range(meta.num_row_groups):
        group = meta.row_group(g)
        if group.num_rows:
            lsn, id_ = (group.column(leaf[c]).statistics for c in ("lsn", "id"))
            lows.append([lsn.min, id_.min])
            highs.append([lsn.max, id_.max])
    if not lows:
        return {"rows": 0}
    return {"rows": meta.num_rows, "low": min(lows), "high": max(highs)}


class LoggedFile(NamedTuple):
    """A data file the commit log names, with its row count and (lsn, id)
    bounds (None for a file with no rows)."""

    path: str
    rows: int
    low: Cursor | None
    high: Cursor | None

    @classmethod
    def of(cls, line: dict) -> LoggedFile:
        """A log line's file, with the bounds the line carries."""
        rows = line["rows"]
        low, high = (Cursor(*line["low"]), Cursor(*line["high"])) if rows else (None, None)
        return cls(line["path"], rows, low, high)


def _committed(files: list[LoggedFile]) -> tuple[Cursor, int]:
    """The largest (lsn, id) the logged ``files`` hold (zero for none)
    and their row total."""
    high = max((f.high for f in files if f.rows), default=Cursor.zero())
    return high, sum(f.rows for f in files)


class Batch(NamedTuple):
    """The files whose rows in (``after``, ``hi``] make one batch, and
    how many rows that is, when every file lies inside the range (None
    otherwise: a file straddles an end)."""

    after: Cursor
    hi: Cursor
    paths: list[str]
    rows: int | None


def plan(files: list[LoggedFile], after: Cursor, max_files: int | None = None,
         hi: Cursor | None = None) -> Batch | None:
    """The next batch past ``after`` (None: nothing to read), or, given
    ``hi``, the batch that reruns (``after``, ``hi``]: the files whose
    high is past ``after``; ``max_files`` caps them at those with the
    smallest highs, the largest of which is ``hi``, and every other file
    whose low is at or below ``hi`` joins, so overlapping compacted files
    stay correct (`streaming.keyset`)."""
    live = [f for f in files if f.rows and f.high > after]
    if hi is None:
        if not live:
            return None
        highs = sorted(f.high for f in live)
        hi = highs[min(max_files or len(highs), len(highs)) - 1]
    chosen = [f for f in live if f.low <= hi]
    inside = all(f.low > after and f.high <= hi for f in chosen)
    rows = sum(f.rows for f in chosen) if inside else None
    return Batch(after, hi, [f.path for f in chosen], rows)


def _stamp(paths: list[str], live: list[dict]) -> list[dict]:
    """Log lines (`SinkFileStatus`, plus each file's :func:`_bounds`) for
    ``paths`` in pickup order. A file stream source picks files up in
    modificationTime order and skips those older than its newest by
    ``maxFileAge``, so the times rise strictly past every ``live`` file's
    and never fall behind the wall clock."""
    t = max([int(time.time() * 1000) - 1] + [f["modificationTime"] for f in live])
    return [
        dict(path=_uri(p), size=os.path.getsize(p), isDir=False, modificationTime=t + i,
             blockReplication=1, blockSize=32 << 20, action="add", **_bounds(p))
        for i, p in enumerate(paths, 1)
    ]


def _commit(log: str, n: int, live: list[dict], added: list[dict]) -> None:
    """Publish entry ``n`` adding ``added`` to the ``live`` files the log
    names before it: the one commit point of an append or a compaction. A
    snapshot entry names every file; the entries it supersedes go after."""
    snapshot = (n + 1) % COMPACT_INTERVAL == 0
    named = live + added if snapshot else added
    lines = ["v1", *(json.dumps(f, separators=(",", ":")) for f in named)]
    atomic_write(os.path.join(log, _entry_name(n)), "\n".join(lines))
    for old in _entry_ids(log) if snapshot else []:
        if old < n:
            os.remove(os.path.join(log, _entry_name(old)))


def _snapshot(log: str, latest: int, named: list[dict]) -> int:
    """Publish the first snapshot entry after ``latest``, naming
    ``named``, with empty entries before it; returns its id."""
    snapshot = (latest + 1) // COMPACT_INTERVAL * COMPACT_INTERVAL + COMPACT_INTERVAL - 1
    for n in range(latest + 1, snapshot):
        _commit(log, n, [], [])
    _commit(log, snapshot, named, [])
    return snapshot


def _disk_files(path: str) -> list[str]:
    """Every parquet file a directory listing of ``path`` would read
    (hidden ``_``/``.`` directories skipped, as Spark skips them)."""
    out = []
    for dirpath, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out += [os.path.join(dirpath, n) for n in names if n.endswith(".parquet")]
    return out


def _move_into(staging: str, path: str) -> list[str]:
    """Move the data files Spark wrote to ``staging`` into the topic
    directory ``path``, ``dt=`` subdirectories kept; returns their new paths
    in (task, dt) order, which is ascending id order: ids are
    partition-local blocks, day-sorted within each task before assignment,
    and ISO dt= names sort chronologically."""
    moved = []
    for src in sorted(_disk_files(staging), key=lambda f: (os.path.basename(f), f)):
        moved.append(os.path.join(path, os.path.relpath(src, staging)))
        os.makedirs(os.path.dirname(moved[-1]), exist_ok=True)
        os.rename(src, moved[-1])
    return moved


def _open_log(path: str) -> tuple[str, int, list[dict]]:
    """The topic's commit log directory, latest entry id and named files
    (:func:`_read_log`), upgraded first; the caller holds the topic mutex.
    A topic written before the log existed gets entry 0 naming its files
    in their (mtime, name) order: paths stay the same, so a stream
    checkpoint taken over the old listing does not redeliver them. The
    log directory appears by one rename, so a crash never hides them.
    Lines logged before lines carried bounds get them from the footers,
    once, by a snapshot naming the same files, so later reads of the log
    open no data file."""
    log = os.path.join(path, LOG_DIR)
    if not os.path.isdir(log):
        legacy = sorted(
            _disk_files(path),
            key=lambda f: (os.path.getmtime(f), os.path.basename(f)),
        )
        tmp = f"{log}.{uuid.uuid4().hex}"
        os.makedirs(tmp)
        if legacy:
            _commit(tmp, 0, [], _stamp(legacy, []))
        os.rename(tmp, log)
    latest, live = _read_log(log)
    if all("rows" in f for f in live):
        return log, latest, live
    live = [f if "rows" in f else {**f, **_bounds(_local(f["path"]))} for f in live]
    return log, _snapshot(log, latest, live), live


class EventStore:
    """Append-only, (lsn, id)-ordered event tables under a root directory."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._append_mutex = TopicMutex(os.path.join(root, "_meta", "locks"))

    # ------------------------------------------------------------- paths

    def topic_path(self, topic: str) -> str:
        self._check_topic(topic)
        return os.path.join(self.root, topic)

    @staticmethod
    def _check_topic(topic: str) -> None:
        if not topic or not topic.endswith(TOPIC_SUFFIX):
            raise ValueError(
                f"topic must end in '{TOPIC_SUFFIX}' "
                "(reference: EventReplicator.java:74, LsnUpdater.java:102)"
            )

    def create_topic(self, topic: str) -> str:
        """Provision an event table directory (X7 analog —
        `EventReplicator.java:156-171` creates replicated topics with
        unlimited retention; parquet directories retain by construction)."""
        path = self.topic_path(topic)
        os.makedirs(path, exist_ok=True)
        return path

    def topics(self) -> list[str]:
        """Discover event tables (suffix filter, F2/S7)."""
        if not os.path.isdir(self.root):
            return []
        return sorted(
            d
            for d in os.listdir(self.root)
            if d.endswith(TOPIC_SUFFIX) and os.path.isdir(os.path.join(self.root, d))
        )

    # ------------------------------------------------------------- write

    def append(
        self,
        topic: str,
        df: DataFrame,
        key_type: str = "string",
        validate: bool = True,
        partition_by_day: bool = False,
    ) -> Cursor:
        """Append a batch of events; returns the batch's high-water cursor.

        Input columns: ``key`` (typed), a payload column (``payload`` of any
        type, or pre-encoded ``data: binary``), optional ``timestamp``
        (defaults to now, ms-truncated — Event.java:102-104) and optional
        ``metadata: map<string,binary>``.

        All rows of one append share one ``lsn`` (same-commit siblings,
        exactly the invariant the reference's commit-LSN stamping provides);
        ``id`` is unique within the append.

        Scale: an append touches ONLY the incoming batch and the commit
        log — the next lsn is one past the largest logged ``high``, the
        layout, key-type and schema checks read the topic's descriptor,
        and the batch's high-water id is computed from the cached batch
        itself, never by re-reading the topic's files. The round-1
        implementation paid two O(table) scans per append (MAX(lsn) +
        post-write re-read); at 100 TB that is two million-file listings
        per append.

        Commit: the files are written outside the topic, moved in — still
        invisible — and published by ONE entry of the topic's commit log,
        the append's only irrevocable step, so a multi-file or
        day-partitioned append becomes visible all at once or not at all.
        A crash before the entry leaves no trace in any record: the next
        append takes the same lsn, and the crashed append's unlogged files
        stay invisible until `compact` deletes them. The log is read once,
        from its latest snapshot: driver-side JSON, one line per file,
        which every Spark read of the topic parses too.

        Concurrency: the log read, the data write and the log entry run
        under a per-topic :class:`TopicMutex`, so concurrent appends to
        one topic serialize instead of both taking the same lsn — the
        advisory-lock single-writer invariant the reference holds
        (`LockManager.java:45-84`), enforced per append rather than
        assumed.
        """
        if key_type not in KEY_TYPES:
            raise ValueError(f"key_type must be one of {KEY_TYPES}")
        if "key" not in df.columns:
            raise ValueError("input must have a 'key' column")
        payload_cols = [c for c in df.columns if c in ("payload", "data")]
        if not payload_cols:
            raise ValueError("input must have a 'payload' or 'data' column")
        if validate:
            validate_metadata(df)

        self._append_mutex.acquire(topic)
        try:
            return self._append_locked(
                topic, df, key_type, partition_by_day, payload_cols
            )
        finally:
            self._append_mutex.release(topic)

    def _append_locked(
        self,
        topic: str,
        df: DataFrame,
        key_type: str,
        partition_by_day: bool,
        payload_cols: list[str],
    ) -> Cursor:
        path = self.topic_path(topic)
        log, version, live = _open_log(path)
        high, _ = _committed([LoggedFile.of(f) for f in live])
        desc = self._descriptor(topic)
        if desc is not None:
            if desc["day_partitioned"] != partition_by_day:
                raise ValueError(
                    f"topic {topic!r} layout is "
                    f"{'day-partitioned' if desc['day_partitioned'] else 'flat'}; "
                    "appends must match the established layout"
                )
            if desc["key_type"] != key_type:
                raise ValueError(
                    f"topic {topic!r} stores {desc['key_type']!r} keys; cannot "
                    f"append {key_type!r} keys (reference: one key type per "
                    "table, events_schema.sql DDL)"
                )
        lsn = high.lsn + 1
        ts = (
            F.col("timestamp").cast("timestamp_ltz")
            if "timestamp" in df.columns
            else F.current_timestamp()
        )
        metadata = (
            F.col("metadata")
            if "metadata" in df.columns
            else F.lit(None).cast("map<string,binary>")
        )
        body = [
            canonical_key(F.col("key"), key_type).alias("key"),
            F.lit(key_type).alias("key_type"),
            truncate_millis(ts).alias("timestamp"),
            metadata.alias("metadata"),
            F.lit(lsn).cast("long").alias("lsn"),
            *[F.col(c) for c in payload_cols],
        ]
        if partition_by_day:
            # Assign ids AFTER an in-partition day sort: each (task, dt)
            # output file then holds one disjoint ascending id range, so the
            # log entry below names files in (lsn, id) order even across
            # dt= subdirectories. The sort is partition-local — appends stay
            # shuffle-free.
            src = df.withColumn(
                "__dt", F.to_date(truncate_millis(ts))
            ).sortWithinPartitions("__dt")
            out = src.select(
                F.monotonically_increasing_id().alias("id"),
                *body,
                F.col("__dt").alias("dt"),
            )
        else:
            out = df.select(F.monotonically_increasing_id().alias("id"), *body)
        # One row schema per topic, like one key type: reads trust the
        # descriptor's schema instead of inferring it from file footers
        row_schema = out.schema
        schema = _as_nullable(row_schema).jsonValue()
        if desc is not None and desc["schema"] != schema:
            raise ValueError(
                f"topic {topic!r} stores rows of "
                f"{T.StructType.fromJson(desc['schema']).simpleString()}; cannot "
                f"append {T.StructType.fromJson(schema).simpleString()}"
            )
        # Persist so the high-water agg and the write see the SAME partition
        # evaluations (monotonically_increasing_id is deterministic per
        # partition layout; the cache removes even recompute-order risk),
        # and so the write reuses the batch's one Python pass (serialize,
        # encrypt) instead of re-running it. Both jobs are O(batch): new
        # data only, bounded, spills if large.
        out = out.persist()
        try:
            stats = out.agg(
                F.max("id").alias("max_id"),
                F.count(F.lit(1)).alias("n"),
                F.sum(_row_bytes(row_schema)).alias("bytes"),
            ).first()
            if stats.n == 0:
                return high
            if desc is None:
                desc = dict(key_type=key_type, day_partitioned=partition_by_day, schema=schema)
                atomic_write(os.path.join(path, DESCRIPTOR), json.dumps(desc))
            # A staging directory of this append's own, under its topic's:
            # a writer whose mutex was stolen while it paused never empties,
            # writes into or moves out of the one its thief stages in.
            staging = os.path.join(
                self.root, "_staging", topic, f"append-{uuid.uuid4().hex}"
            )
            # A flat batch that fits the file-size target is written by ONE
            # task from the persisted partitions: ids are partition-local
            # blocks, so the id sort lays them out in order. Day-partitioned
            # batches keep one writer per partition — their ids were
            # assigned per partition after a day sort, so one task's dt=
            # files would hold interleaved id ranges.
            single_file = not partition_by_day and stats.bytes <= TARGET_FILE_BYTES
            laid_out = out.coalesce(1) if single_file else out
            writer = laid_out.sortWithinPartitions("id").write
            if partition_by_day:
                # hive-style dt= layout: time-range replay prunes whole
                # partitions statically (the 100 TB event-table layout);
                # (lsn, id) file stats still prune within each day
                writer = writer.partitionBy("dt")
            try:
                writer.parquet(staging)
                added = _stamp(_move_into(staging, path), live)
                # MERGE-guard (multi-writer coordination, PERF.md design
                # made real): re-verify mutex ownership immediately before
                # the log entry. A writer paused past the heartbeat
                # (SIGSTOP, long GC) can have its lock stolen and a second
                # writer log the SAME lsn; aborting here turns that silent
                # cursor corruption into a loud retryable failure.
                if not self._append_mutex.owns(topic):
                    raise RuntimeError(
                        f"append lost the topic mutex for {topic!r} before "
                        "its log entry (stolen after a heartbeat lapse?); "
                        "nothing was committed - retry the append"
                    )
                _commit(log, version + 1, live, added)
            finally:
                shutil.rmtree(staging, ignore_errors=True)
        finally:
            out.unpersist()
        return Cursor(lsn, stats.max_id)

    def _descriptor(self, topic: str) -> dict | None:
        """The topic's descriptor ``{key_type, day_partitioned, schema}``
        (the schema as all-nullable StructType JSON); None for a topic
        without rows. A topic whose log names rows but which has no
        descriptor (written before descriptors existed) has it inferred
        once, by one footer read and one aggregate, and written."""
        path = os.path.join(self.topic_path(topic), DESCRIPTOR)
        try:
            with open(path) as f:
                return json.load(f)
        except FileNotFoundError:
            if not any(f.rows for f in self.log_files(topic)):
                return None
        df = self.spark.read.parquet(self.topic_path(topic))
        desc = {
            "key_type": df.agg(F.any_value("key_type")).first()[0],
            "day_partitioned": "dt" in df.columns,
            "schema": _as_nullable(df.schema).jsonValue(),
        }
        atomic_write(path, json.dumps(desc))
        return desc

    def event_schema(self, topic: str) -> T.StructType:
        """The schema of the topic's rows (``dt`` included on day-partitioned
        topics), from its descriptor — readers pass it to ``.schema(...)``
        so no read starts a footer-inference job. A topic without rows has
        no schema; parquet reports that as it always has."""
        desc = self._descriptor(topic)
        if desc is None:
            return self.spark.read.parquet(self.topic_path(topic)).schema
        return T.StructType.fromJson(desc["schema"])

    def high_water(self, topic: str) -> dict | None:
        """``{lsn, max_id, total}`` — the largest logged (lsn, id) high and
        the sum of the logged row counts — plus the topic's descriptor:
        the substrate for lag gauges and resume decisions. A driver-side
        read of the commit log, which every append and drain poll does
        too; None for a topic without rows."""
        desc = self._descriptor(topic)
        if desc is None:
            return None
        high, total = self.committed(topic)
        return {"lsn": high.lsn, "max_id": high.id, "total": total, **desc}

    # -------------------------------------------------------------- read

    def read_events(
        self,
        topic: str,
        after: Cursor | None = None,
        typed_key: bool = False,
        start_day: str | None = None,
        end_day: str | None = None,
    ) -> DataFrame:
        """Unordered event scan with optional keyset-resume predicate (F1)
        and, for day-partitioned topics, static partition pruning via
        ``start_day``/``end_day`` (ISO dates, inclusive).

        A keyset read names only the logged files whose high is past
        ``after`` (:func:`plan`, the keyset consumers' rule), so files
        wholly at or below the cursor are never opened; a selection of
        more than :data:`LISTING_THRESHOLD` files reads the topic
        directory with the keyset predicate instead, which starts no
        listing job."""
        schema = self.event_schema(topic)
        if (start_day or end_day) and "dt" not in schema.fieldNames():
            raise ValueError(
                f"topic {topic!r} is not day-partitioned; day-range reads "
                "require append(..., partition_by_day=True)"
            )
        batch = None if after is None else plan(self.log_files(topic), after)
        if after is not None and not batch:
            df = self.spark.createDataFrame([], schema)
        elif batch and len(batch.paths) <= LISTING_THRESHOLD:
            df = self.read_files(topic, batch.paths)
        else:
            # the log's own file index: past the threshold Spark lists the
            # named paths with a job of one task per path, which costs more
            # than the footers the keyset predicate's row-group pruning reads
            df = self.spark.read.schema(schema).parquet(self.topic_path(topic))
        if after is not None:
            df = df.where(keyset_after(after))
        if start_day is not None:
            df = df.where(F.col("dt") >= F.lit(start_day).cast("date"))
        if end_day is not None:
            df = df.where(F.col("dt") <= F.lit(end_day).cast("date"))
        if typed_key:
            df = df.withColumn(
                "key_view",
                typed_key_view(F.col("key"), self._descriptor(topic)["key_type"]),
            )
        return df

    def view(self, topic: str, name: str | None = None) -> str:
        """Register the event table as a temp view for Spark SQL analytics
        (the bridge from the event-log layer to the analytics layer)."""
        view_name = name or topic
        self.read_events(topic).createOrReplaceTempView(view_name)
        return view_name

    def replay(self, topic: str, after: Cursor | None = None) -> DataFrame:
        """Total-order replay: ORDER BY (lsn, id) (O1).

        At scale, prefer bounded replay (`.limit`, per-lsn ranges) — the
        sort is a range exchange, but keyset predicates prune files first.
        """
        return self.read_events(topic, after=after).orderBy("lsn", "id")

    # ------------------------------------------------------- maintenance

    def compact(
        self,
        topic: str,
        target_files: int | None = None,
        cluster_by: tuple[str, str] | None = None,
    ) -> int:
        """Rewrite accumulated small append files into (lsn, id)-range
        partitioned, internally sorted files; returns the new file count.

        Every append creates at least one file (exactly one for a flat
        batch under :data:`TARGET_FILE_BYTES`), so a long-lived topic
        accumulates small files — the classic streaming-table problem.
        Without ``target_files`` the output count is the topic's bytes
        over the same target. The rewrite uses
        ``repartitionByRange(lsn, id)`` so each output file covers a
        contiguous cursor range (maximum min/max-stat pruning for
        keyset predicates) and is sorted within, keeping replay merges
        cheap.

        Commit: the rewrite reads the files of the log version it started
        from and runs outside the topic's append mutex (X4), so appends go
        on meanwhile. Under the mutex it moves its files in and publishes
        ONE snapshot entry naming them plus every file logged after that
        version; only then are the replaced files (and any a crashed
        append left unlogged or staged) deleted. A crash at any point leaves either
        the old file set or the new one visible, never a mix.

        Flat topics keep the ordered-visibility invariant through the
        rewrite: the range-partitioned output files hold disjoint ascending
        (lsn, id) ranges and the snapshot names them first, in range order,
        with modification times below those of every later file, so a NEW
        replication stream over the compacted topic still observes commit
        order. The keyset consumers (`Replicator`, `Subscription`) plan
        from the files' logged (lsn, id) bounds and read only rows past
        their cursor, so a compaction redelivers nothing to them. A batch
        planned over the replaced files that reads them after they are
        deleted fails, and its rerun reads the compacted files; compact
        between a consumer's drains.
        Day-partitioned topics trade that away by construction: dt= is
        event-time while (lsn, id) is commit-time, so their files cannot be
        both day-partitioned and cursor-range-disjoint — day layout is the
        analytics path, flat the replication path.

        ``cluster_by=(col_a, col_b)``: DAY-PARTITIONED topics only — lay
        files out along the Z-order curve of two columns instead of
        (lsn, id) ranges, so min-max stats prune on BOTH columns for
        analytics predicates (`plans.layout` measures the effect).
        Numeric columns are range-normalized from a one-row stats read;
        string columns cluster by a 16-bit hash (equality pruning).
        Refused on flat topics: their files must stay cursor-range
        disjoint or replication's ordered-visibility invariant breaks.
        """
        path = self.topic_path(topic)
        log, _, files = self._log(topic)
        if not files:
            return 0
        df = self.read_files(topic, [f["path"] for f in files])
        day_partitioned = "dt" in df.columns
        if target_files is None:
            total = sum(f["size"] for f in files)
            target_files = max(1, total // TARGET_FILE_BYTES)
        if cluster_by is not None:
            if not day_partitioned:
                raise ValueError(
                    "cluster_by requires a day-partitioned topic: flat "
                    "topics must keep (lsn, id)-disjoint files for "
                    "replication's ordered-visibility invariant"
                )
            zcol = self._zorder_key(df, cluster_by)
            laid_out = (
                df.withColumn("_z", zcol)
                .repartitionByRange(target_files, "_z")
                .sortWithinPartitions("_z")
                .drop("_z")
            )
        else:
            laid_out = df.repartitionByRange(
                target_files, "lsn", "id"
            ).sortWithinPartitions("lsn", "id")
        writer = laid_out.write
        if day_partitioned:
            # preserve the established hive layout: dt is a partition column
            # on read, so it must go back out via partitionBy or the rewrite
            # silently flips the topic to flat (breaking later
            # partition_by_day appends and start_day/end_day pruning)
            writer = writer.partitionBy("dt")
        staging = os.path.join(
            self.root, "_staging", topic, f"compact-{uuid.uuid4().hex}"
        )
        try:
            writer.parquet(staging)
            self._append_mutex.acquire(topic)
            try:
                latest, live = _read_log(log)
                replaced = {f["path"] for f in files}
                if not replaced <= {f["path"] for f in live}:
                    raise RuntimeError(
                        f"topic {topic!r} was compacted concurrently; "
                        "nothing was published - retry the compaction"
                    )
                # part index of repartitionByRange output = ascending range
                compacted = _move_into(staging, path)
                later = [_local(f["path"]) for f in live if f["path"] not in replaced]
                _snapshot(log, latest, _stamp(compacted + later, live))
                keep = {os.path.realpath(p) for p in compacted + later}
                for f in _disk_files(path):
                    if os.path.realpath(f) not in keep:
                        os.remove(f)
                # no append stages while we hold the mutex: any append
                # staging directory left is a crashed (or aborting) one's
                for d in Path(self.root, "_staging", topic).glob("append-*"):
                    shutil.rmtree(d, ignore_errors=True)
            finally:
                self._append_mutex.release(topic)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return len(compacted)

    INT_TYPES = ("bigint", "int", "smallint", "tinyint")
    FRACTIONAL_TYPES = ("double", "float")

    def _zorder_key(self, df, cluster_by: tuple[str, str]):
        """16-bit-per-dimension Morton key over two columns: numeric
        columns are range-normalized to [0, 2^16) from a one-row MIN/MAX
        stats read (the `plans.layout` normalization — what production
        Z-order writers do); string columns use the low 16 bits of
        xxhash64 (clusters equal keys for equality pruning; no range
        order exists to preserve).

        MIN-shifting (not just MAX-aligning) is load-bearing: a negative
        value fed to shiftleft/shiftright emits sign-extended garbage
        interleave bits, silently destroying the clustering (ADVICE r5).
        Fractional and decimal columns range-normalize through double
        arithmetic instead of falling into the 16-bit-hash branch (which
        would lose range pruning for them entirely)."""
        from event_store_spark.plans.layout import ZBITS, zvalue

        zmax = (1 << ZBITS) - 1
        types = dict(df.dtypes)

        def kind(c):
            t = types[c]
            if t in self.INT_TYPES:
                return "int"
            if t in self.FRACTIONAL_TYPES or t.startswith("decimal"):
                return "frac"
            return "hash"

        numeric = [c for c in cluster_by if kind(c) != "hash"]
        stats = {}
        if numeric:
            row = df.agg(
                *[F.min(c).alias(f"_mn_{c}") for c in numeric],
                *[F.max(c).alias(f"_mx_{c}") for c in numeric],
            ).head()
            for c in numeric:
                if row[f"_mn_{c}"] is not None:
                    stats[c] = (row[f"_mn_{c}"], row[f"_mx_{c}"])
        dims = []
        for c in cluster_by:
            k = kind(c)
            if k == "hash":
                dims.append(
                    F.pmod(F.xxhash64(F.col(c)), F.lit(1 << ZBITS)).cast("bigint")
                )
            elif c not in stats:  # all-NULL numeric column: degenerate dim
                dims.append(F.lit(0).cast("bigint"))
            elif k == "int":
                lo, hi = int(stats[c][0]), int(stats[c][1])
                bits = (hi - lo).bit_length()
                if bits > ZBITS:
                    # wide ranges: keep the HIGH bits (coarse ranges).
                    # Shift BEFORE subtracting so `col - lo` can never
                    # overflow int64 even when the range spans it; the
                    # +1 rounding slack of per-value shifting is clamped.
                    s = bits - ZBITS
                    dims.append(
                        F.least(
                            F.shiftright(F.col(c).cast("bigint"), s)
                            - F.lit(lo >> s),
                            F.lit(zmax).cast("bigint"),
                        )
                    )
                else:
                    dims.append(
                        F.shiftleft(
                            F.col(c).cast("bigint") - F.lit(lo), ZBITS - bits
                        )
                    )
            else:  # fractional / decimal: normalize through double
                lo, hi = float(stats[c][0]), float(stats[c][1])
                if hi <= lo:
                    dims.append(F.lit(0).cast("bigint"))
                else:
                    scaled = (
                        (F.col(c).cast("double") - F.lit(lo))
                        / F.lit(hi - lo)
                        * F.lit(float(zmax))
                    )
                    dims.append(
                        F.least(
                            F.greatest(F.floor(scaled), F.lit(0)).cast("bigint"),
                            F.lit(zmax).cast("bigint"),
                        )
                    )
        return zvalue(dims[0], dims[1])

    def _log(self, topic: str) -> tuple[str, int, list[dict]]:
        """The topic's commit log (:func:`_open_log`), upgraded first under
        the append mutex if it is missing or its lines lack bounds."""
        path = self.topic_path(topic)
        log = os.path.join(path, LOG_DIR)
        if os.path.isdir(log):
            latest, live = _read_log(log)
            if all("rows" in f for f in live):
                return log, latest, live
        self._append_mutex.acquire(topic)
        try:
            return _open_log(path)
        finally:
            self._append_mutex.release(topic)

    def log_files(self, topic: str) -> list[LoggedFile]:
        """The files the topic's commit log names, in log order, with
        their row counts and (lsn, id) bounds: what a keyset consumer
        plans its batches from (`streaming.keyset`). Driver-side JSON;
        no Spark job. A topic with no directory has no files."""
        if not os.path.isdir(self.topic_path(topic)):
            return []
        return [LoggedFile.of(f) for f in self._log(topic)[2]]

    def committed(self, topic: str) -> tuple[Cursor, int]:
        """The largest (lsn, id) the topic's commit log names (zero for
        none) and the sum of its logged row counts: a driver-side log
        read, no Spark job."""
        return _committed(self.log_files(topic))

    def read_files(self, topic: str, paths: list[str]) -> DataFrame:
        """The rows of the topic's data files ``paths`` (log paths), with
        the descriptor's row schema and ``dt`` from the paths. Spark lists
        more root paths than ``parallelPartitionDiscovery.threshold`` (32)
        with one Spark job."""
        return (
            self.spark.read.schema(self.event_schema(topic))
            .option("basePath", self.topic_path(topic))
            .parquet(*paths)
        )

    # ----------------------------------------------------------- metrics

    def lag(self, topic: str, cursor: Cursor) -> int:
        """Replication lag: high-water lsn − cursor.lsn (A1 analog).

        The high water is the largest lsn the commit log names, from its
        per-file bounds — a driver-side log read, no Spark job; the
        reference's gauge is likewise bookkeeping math, not a scan
        (`EventReplicatorWorker.java:242-248`)."""
        return self.committed(topic)[0].lsn - cursor.lsn
