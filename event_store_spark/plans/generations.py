"""The one publish path for every versioned on-disk artifact.

A versioned artifact is published the way the reference publishes an
event and the way Structured Streaming's file sink commits a batch: the
new version is written in full under a fresh name, then ONE atomic,
fsync'd replace of a small pointer file (`write_pointer`) makes it live.
Readers resolve through the pointer, so a crash at any point leaves
either the old version or the new one fully live, never a mix. Three
shapes share that commit point:

- `GenerationPair` — an index that is a PAIR of artifacts, a bulk
  parquet directory and a small metadata file that must never be
  observed mismatched: IVF (cells + centroids, pointer ``CELLS``), PQ
  (codes + codebook, ``CODES``), SQ8 (codes + limits, ``CODES``), HNSW
  (graph + hnsw.json), `DedupIndex` (sigs + meta.json) and
  `PostingsIndex` (rows + meta.json). The pointer names both halves,
  ``<dir>-<n> <meta>-<n>``; the pointerless layout (``<dir>/``,
  ``<meta>``) is the first build's, and the first flip introduces the
  pointer. GC of superseded generations is DEFERRED ONE FLIP: the
  generation live just before a flip survives until the next one, so a
  reader that resolved the pointer pre-flip (or holds a lazily-listed
  DataFrame over the old directory) finishes its scan instead of dying
  on a mid-read rmtree. Generations ≤ N-2 and crash orphans are swept.
- `VersionedTable` — a streaming-maintained table published as one
  ``_v<n>`` directory per commit behind a ``_CURRENT`` pointer:
  `ContinuousRollup`, `CdcMaterializer`, `JoinAggregateView` and
  `DistinctCountView`. The pointer also carries the sink's exactly-once
  ledger (`streaming.eos`), so the flip is the batch's one commit point:
  a replayed uncommitted batch rebuilds the next version and flips, and
  whether a batch is already applied is decided by `streaming.eos`
  alone. The current version plus ``_KEEP_VERSIONS`` superseded ones
  stay on disk for readers mid-swap and for time travel.
- `SegmentLog` — an artifact that grows one ``b<batch_id>`` segment
  directory per streaming batch: the `JoinAggregateView` side copies,
  `CurationPipeline`'s admitted corpus and seen-hash ledger, the
  `DedupIndex` and `PostingsIndex` segments, and the typed and tokenized
  ingest tables. Each segment's ``_SEGMENT.<batch_id>`` marker is its
  commit point (written last; readers list markers, never directories),
  or, in a log an exactly-once sink writes, the sink's ledger: readers
  list no segment above the ledger's batch id. A fold rewrites the
  snapshot plus the oldest segments as one ``snap<batch_id>`` directory
  behind the ``_SNAP`` pointer. A segment is rewritten under its own
  batch id, so recomputing a replayed uncommitted batch is idempotent;
  a committed one never reaches the log again (`streaming.eos` skips
  it), so a write at or below the fold watermark raises. The ivf, pq and sq8 additions streams are
  segment logs too, and every compaction of a log keeps, per key
  group, only the newest segment's rows (`SegmentLog.newest`).

Every pointer, the segment markers, ``_SNAP`` and the exactly-once
ledgers (``_LEDGER``, or the ``_CURRENT`` of a versioned table)
included, is written through `write_pointer`.
"""

from __future__ import annotations

import functools
import math
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from event_store_spark.core.state import atomic_write

#: superseded `VersionedTable` versions retained beside the current one
_KEEP_VERSIONS = 2
#: `SegmentLog.fold` waits until this many segments are live below its
#: bound: a long-lived stream otherwise grows one directory per batch
SEGMENTS_PER_FOLD = 8
#: `SegmentLog` names: per-batch marker prefix and fold pointer
_MARKER = "_SEGMENT."
_SNAP = "_SNAP"
#: a streaming sink's exactly-once ledger file (`streaming.eos`)
LEDGER = "_LEDGER"


def write_pointer(path: str, text: str) -> None:
    """The commit point of every publish: atomically replace the pointer
    file at ``path`` with ``text``."""
    atomic_write(path, text)


def read_ledger(ledger: str) -> tuple[str, int] | None:
    """The ``(lineage, batch_id)`` a ledger file holds (batch -1: none
    committed yet), None if there is no file. A file that holds no ledger
    (a versioned table's ``_CURRENT`` from before ledgers) raises."""
    try:
        with open(ledger) as fh:
            parts = fh.read().split()
    except FileNotFoundError:
        return None
    try:
        return parts[0], int(parts[1])
    except (IndexError, ValueError):
        raise ValueError(
            f"{ledger} holds no exactly-once ledger; delete "
            f"{os.path.dirname(ledger)} to rebuild it from the source"
        ) from None


def segment_wins(base: DataFrame, seg: DataFrame, key: str) -> DataFrame:
    """``base`` ∪ ``seg`` with one row per ``key``, the SEGMENT row winning
    a collision (a re-assigned or re-encoded vector replaces its stale base
    row deterministically). ``seg`` is already newest-wins across batches
    (`SegmentLog.newest`); a row_number, not an anti-join, because one
    batch can still hold a key twice and the fold must emit it once."""
    return (
        base.withColumn("_pri", F.lit(0))
        .unionByName(seg.select(*base.columns).withColumn("_pri", F.lit(1)))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(key).orderBy(F.col("_pri").desc())
            ),
        )
        .where(F.col("_rn") == 1)
        .drop("_pri", "_rn")
    )


class GenerationPair:
    """Pointer discipline for one index at ``path`` with artifact names
    ``dir_name`` (bulk directory) and ``meta_name`` (metadata file, must
    contain a '.' — generations insert ``-<n>`` before the extension)."""

    def __init__(self, path: str, dir_name: str, meta_name: str,
                 pointer: str = "LIVE"):
        self.path = path
        self.dir_name = dir_name
        self.meta_name = meta_name
        self.pointer = pointer

    # ------------------------------------------------------------ resolve

    def live(self) -> tuple[str, str]:
        """The live (bulk dir, meta file) names; pointerless fallback. A
        one-token pointer (the early IVF/PQ format) names the dir only."""
        try:
            with open(os.path.join(self.path, self.pointer)) as fh:
                parts = fh.read().split()
        except OSError:
            return self.dir_name, self.meta_name
        return parts[0], parts[1] if len(parts) > 1 else self.meta_name

    def next_names(self) -> tuple[str, str]:
        """Names for the NEXT generation: the original pair on a fresh
        path, ``<dir>-<n>`` / ``<meta>-<n>`` after that."""
        cur, _ = self.live()
        if not os.path.isdir(os.path.join(self.path, cur)):
            return self.dir_name, self.meta_name
        gen = int(cur.rsplit("-", 1)[1]) + 1 if "-" in cur else 1
        stem, ext = os.path.splitext(self.meta_name)
        return f"{self.dir_name}-{gen}", f"{stem}-{gen}{ext}"

    # ------------------------------------------------------------ publish

    def publish(
        self,
        spark: SparkSession,
        write: Callable[[str], None],
        meta: str | Callable[[str], str] | None,
    ) -> str:
        """Publish one new generation and return its bulk directory.

        ``write(dir)`` writes the bulk directory; ``meta`` is the metadata
        file's text, a function of the written directory that returns it,
        or None to keep the live metadata file (a compaction that folds
        rows in without retraining). The metadata is written after the
        bulk directory, so on a first build its presence marks the index
        complete; after that the pointer flip publishes the pair, and the
        root ``meta_name`` copy is refreshed as the index-exists marker
        (loaders resolve through the pointer, so a crash before the
        refresh leaves only a stale marker)."""
        os.makedirs(self.path, exist_ok=True)
        new_dir, new_meta = self.next_names()
        if meta is None:
            new_meta = self.live()[1]
        out = os.path.join(self.path, new_dir)
        write(out)
        # a reused generation name (a crash orphan rewritten) must not
        # serve a file listing cached before the rewrite
        spark.catalog.refreshByPath(out)
        if callable(meta):
            meta = meta(out)
        if meta is not None:
            atomic_write(os.path.join(self.path, new_meta), meta)
        if (new_dir, new_meta) != (self.dir_name, self.meta_name):
            self.flip(new_dir, new_meta)
            if meta is not None and new_meta != self.meta_name:
                atomic_write(os.path.join(self.path, self.meta_name), meta)
        return out

    def flip(self, new_dir: str, new_meta: str) -> None:
        """Atomically publish (new_dir, new_meta); GC generations older
        than the immediately-superseded one (which outlives this flip for
        in-flight readers and is swept by the NEXT flip)."""
        keep = set(self.live()) | {new_dir, new_meta}
        write_pointer(os.path.join(self.path, self.pointer),
                      f"{new_dir} {new_meta}")
        stem, ext = os.path.splitext(self.meta_name)
        for name in os.listdir(self.path):
            if name in keep:
                continue
            full = os.path.join(self.path, name)
            if name == self.dir_name or name.startswith(self.dir_name + "-"):
                if os.path.isdir(full):
                    shutil.rmtree(full, ignore_errors=True)
            elif name.startswith(stem + "-") and name.endswith(ext):
                if os.path.isfile(full):
                    os.remove(full)


class VersionedTable:
    """A table at ``target_path`` published one ``_v<n>`` directory per
    commit behind the ``_CURRENT`` pointer, whose text is the sink's
    exactly-once ledger followed by the version name."""

    def __init__(self, spark: SparkSession, target_path: str) -> None:
        self.spark = spark
        self.target_path = target_path
        self.ledger = os.path.join(target_path, "_CURRENT")
        os.makedirs(target_path, exist_ok=True)

    def _pointer(self) -> tuple[list[str], str | None]:
        """The pointer's ledger tokens and its version name (None before
        the first version: a sink's start writes its ledger alone)."""
        try:
            with open(self.ledger) as fh:
                held = fh.read().split()
        except FileNotFoundError:
            return [], None
        if held and held[-1].startswith("_v"):
            return held[:-1], held[-1]
        return held, None

    def _current_version(self) -> str | None:
        """The committed version's directory name, None before the first."""
        return self._pointer()[1]

    def versions(self) -> list[str]:
        """Version directories still on disk, oldest→newest (the last is
        not necessarily committed — crash debris stays until the next
        publish rewrites it; the committed one is ``_current_version()``)."""
        return sorted(
            (d for d in os.listdir(self.target_path) if d.startswith("_v")),
            key=lambda d: int(d[2:]),
        )

    def _full(self, version: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.target_path, version))

    def _publish(
        self, df: DataFrame, commit: Callable[[str], None] | None = None
    ) -> None:
        """Write ``df`` as the next version, flip ``_CURRENT`` to it, then
        GC all but the current version and ``_KEEP_VERSIONS`` older ones.

        ``commit(version)`` is the flip of a stream batch: the
        exactly-once wrapper's commit, which records the batch's ledger
        beside the version. Without it (a publish outside the stream) the
        flip keeps the ledger the pointer holds. Version names count up
        from the committed one, so a publish after a crash rewrites the
        crashed publish's directory."""
        held, current = self._pointer()
        version = f"_v{int(current[2:]) + 1}" if current else "_v0"
        out_dir = os.path.join(self.target_path, version)
        if os.path.exists(out_dir):
            shutil.rmtree(out_dir)  # a crashed publish's directory
        df.write.mode("overwrite").parquet(out_dir)
        # a rewritten version must not serve a file listing Spark cached
        # before the crash, or readers hit FILE_NOT_EXIST on the torn
        # version's old part files
        self.spark.catalog.refreshByPath(out_dir)
        if commit is None:
            write_pointer(self.ledger, " ".join(held + [version]))
        else:
            commit(version)
        for stale in self.versions()[: -(_KEEP_VERSIONS + 1)]:
            if stale != version:
                shutil.rmtree(
                    os.path.join(self.target_path, stale), ignore_errors=True
                )


def _holds_rows(path: str) -> bool:
    """Whether any parquet file under ``path`` holds a row. An empty
    unpartitioned write leaves one schema-only file and an empty
    partitioned one none; the footers answer without a Spark job."""
    import pyarrow.parquet as pq

    return any(
        pq.read_metadata(os.path.join(d, f)).num_rows
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _id_after(name: str, prefix: str) -> int | None:
    """``<prefix><int>`` → the int, anything else → None."""
    rest = name[len(prefix):] if name.startswith(prefix) else ""
    return int(rest) if rest.isdigit() else None


class SegmentLog:
    """The ``b<batch_id>`` segments of a batch-appended artifact at
    ``root``, each live once its ``_SEGMENT.<batch_id>`` marker exists,
    plus at most one live ``snap<w>`` fold of every segment ≤ ``w``.

    A log written by an exactly-once sink is committed by the sink's
    ledger (``ledger``, by default ``root/_LEDGER``): a segment above the
    ledger's batch id is not committed yet, and nothing lists it; the
    sink writes its ledger (batch -1) when it starts, before its first
    segment. A log with no ledger file lists every marked segment."""

    def __init__(self, spark: SparkSession, root: str,
                 ledger: str | None = None) -> None:
        self.spark = spark
        self.root = root
        self.ledger = ledger or os.path.join(root, LEDGER)

    def _dir(self, batch_id: int) -> str:
        return os.path.join(self.root, f"b{batch_id}")

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.root, f"{_MARKER}{batch_id}")

    def _snapshot(self) -> tuple[int, str | None]:
        """(watermark, snapshot dir name); (-1, None) before the first
        fold. A malformed pointer raises: it never names no snapshot."""
        try:
            with open(os.path.join(self.root, _SNAP)) as fh:
                text = fh.read()
        except FileNotFoundError:
            return -1, None
        parts = text.split()
        if len(parts) != 2 or not parts[0].isdigit():
            raise ValueError(f"malformed {_SNAP} in {self.root}: {text!r}")
        return int(parts[0]), parts[1]

    def watermark(self) -> int:
        """The highest batch id folded into the snapshot, -1 if none."""
        return self._snapshot()[0]

    def ids(self) -> list[int]:
        """Marked, committed segment ids above the watermark, in numeric
        order."""
        w = self.watermark()
        if not os.path.isdir(self.root):
            return []
        held = read_ledger(self.ledger)
        top = math.inf if held is None else held[1]
        ids = (_id_after(n, _MARKER) for n in os.listdir(self.root))
        return sorted(i for i in ids if i is not None and w < i <= top)

    def paths(self, upto: int | None = None) -> list[str]:
        """The live snapshot, then the marked segments ≤ ``upto``."""
        _, snap = self._snapshot()
        out = [os.path.join(self.root, snap)] if snap else []
        return out + [
            self._dir(i) for i in self.ids() if upto is None or i <= upto
        ]

    def _frames(self, upto: int | None) -> list[DataFrame]:
        """One frame per live source ≤ ``upto``: partitioned segments are
        separate partition roots, which one parquet read cannot list."""
        return [self.spark.read.parquet(p) for p in self.paths(upto)]

    def read(self, upto: int | None = None, schema=None) -> DataFrame:
        """The live rows ≤ ``upto``; an empty ``schema`` frame when there
        are none (with no schema, Spark's own no-input error)."""
        frames = self._frames(upto)
        if not frames:
            if schema is not None:
                return self.spark.createDataFrame([], schema)
            return self.spark.read.parquet()
        return functools.reduce(DataFrame.unionByName, frames)

    def newest(self, key: str, base: DataFrame | None = None,
               upto: int | None = None) -> DataFrame:
        """The live rows ≤ ``upto`` (under ``base``'s rows, if given),
        keeping for each ``key`` group only the rows of the newest source
        that holds it: ``base`` ranks below the snapshot, the snapshot
        below every segment, and segments rank by batch id. A group is
        many rows (a document's signatures or postings), so a re-appended
        key replaces its whole group. A fold keeps every row of the
        segments it folds, so only logs that never fold tell those
        segments apart. Needs ``base`` or a live segment."""
        parts = ([] if base is None else [base]) + self._frames(upto)
        ranked = parts[0].withColumn("_rank", F.lit(0))
        for rank, part in enumerate(parts[1:], 1):
            ranked = ranked.unionByName(part.withColumn("_rank", F.lit(rank)))
        top = F.max("_rank").over(Window.partitionBy(key))
        return (
            ranked.withColumn("_top", top)
            .where(F.col("_rank") == F.col("_top"))
            .drop("_rank", "_top")
        )

    def meta(self, batch_id: int) -> str:
        """The text the segment's marker carries."""
        with open(self._marker(batch_id)) as fh:
            return fh.read()

    def write(
        self,
        batch_id: int,
        df: DataFrame,
        partition_by: tuple[str, ...] = (),
        meta: str = "",
    ) -> None:
        """Overwrite segment ``batch_id`` with ``df`` and mark it; a batch
        with no rows leaves no segment. Only committed batches fold, and
        a committed batch is never applied again, so a batch the
        snapshot already holds is a caller bug and raises."""
        if batch_id <= self.watermark():
            raise ValueError(
                f"batch {batch_id} is already folded into {self.root}"
            )
        out, marker = self._dir(batch_id), self._marker(batch_id)
        if os.path.exists(marker):
            os.remove(marker)
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(out)
        # a rewritten segment must not serve a listing cached before it
        self.spark.catalog.refreshByPath(out)
        if _holds_rows(out):
            write_pointer(marker, meta)
        else:
            shutil.rmtree(out, ignore_errors=True)

    def fold(self, upto: int) -> None:
        """Once ``SEGMENTS_PER_FOLD`` live segments are ≤ ``upto``, write
        the snapshot plus them as ``snap<upto>``, flip ``_SNAP`` to it,
        then delete every segment ≤ ``upto`` and every other snapshot
        (which also clears what a crash after an earlier flip left). The
        snapshot is unpartitioned, so only unpartitioned logs fold."""
        folded = [i for i in self.ids() if i <= upto]
        if len(folded) < SEGMENTS_PER_FOLD:
            return
        name = f"snap{upto}"
        out = os.path.join(self.root, name)
        self.read(upto).write.mode("overwrite").parquet(out)
        self.spark.catalog.refreshByPath(out)
        write_pointer(os.path.join(self.root, _SNAP), f"{upto} {name}")
        for n in os.listdir(self.root):
            marked, seg = _id_after(n, _MARKER), _id_after(n, "b")
            if marked is not None and marked <= upto:
                os.remove(os.path.join(self.root, n))
            elif (seg is not None and seg <= upto) or (
                n.startswith("snap") and n != name
            ):
                shutil.rmtree(os.path.join(self.root, n), ignore_errors=True)

    def retire(self, ids: list[int]) -> None:
        """Delete segments ``ids``, each marker before its directory."""
        for i in ids:
            if os.path.exists(self._marker(i)):
                os.remove(self._marker(i))
            shutil.rmtree(self._dir(i), ignore_errors=True)
