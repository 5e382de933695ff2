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
  ``_v<batch_id>`` directory per micro-batch behind a ``_CURRENT``
  pointer: `ContinuousRollup`, `CdcMaterializer`, `JoinAggregateView`
  and `DistinctCountView`. The flip is the batch's commit marker, so a
  replayed uncommitted batch rebuilds its directory and re-flips, and a
  replay of the committed one is skipped by the caller. The current
  version plus ``_KEEP_VERSIONS`` superseded ones stay on disk for
  readers mid-swap and for time travel.
- `SegmentLog` — an artifact that grows one ``b<batch_id>`` segment
  directory per streaming batch: the `JoinAggregateView` side copies,
  `CurationPipeline`'s admitted corpus and seen-hash ledger, the
  `DedupIndex` and `PostingsIndex` segments, and the typed and tokenized
  ingest tables. Each segment's ``_SEGMENT.<batch_id>`` marker is its
  commit point (written last; readers list markers, never directories),
  and a fold rewrites the snapshot plus the oldest segments as one
  ``snap<batch_id>`` directory behind the ``_SNAP`` pointer. A segment is
  rewritten under its own batch id, so recomputing a replayed batch is
  idempotent.

Every pointer, segment marker and ``_SNAP`` included, is written through
`write_pointer`.
"""

from __future__ import annotations

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


def write_pointer(path: str, text: str) -> None:
    """The commit point of every publish: atomically replace the pointer
    file at ``path`` with ``text``."""
    atomic_write(path, text)


def segment_wins(base: DataFrame, seg: DataFrame, key: str) -> DataFrame:
    """``base`` ∪ ``seg`` with one row per ``key``, the SEGMENT row winning
    a collision (a re-assigned or re-encoded vector replaces its stale base
    row deterministically). A row_number, not an anti-join: a segment can
    hold one key twice, and the fold must still emit it once."""
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
    """A table at ``target_path`` published one ``_v<batch_id>`` directory
    per batch behind the ``_CURRENT`` pointer."""

    def __init__(self, spark: SparkSession, target_path: str) -> None:
        self.spark = spark
        self.target_path = target_path
        os.makedirs(target_path, exist_ok=True)

    def _current_version(self) -> str | None:
        """The committed version's directory name, None before the first."""
        try:
            with open(os.path.join(self.target_path, "_CURRENT")) as fh:
                return fh.read().strip() or None
        except FileNotFoundError:
            return None

    def versions(self) -> list[str]:
        """Version directories still on disk, oldest→newest (the last is
        not necessarily committed — crash debris stays until its batch
        replays; the committed one is ``_current_version()``)."""
        return sorted(
            (d for d in os.listdir(self.target_path) if d.startswith("_v")),
            key=lambda d: int(d[2:]),
        )

    def _full(self, version: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.target_path, version))

    def _publish(self, df: DataFrame, batch_id: int) -> None:
        """Write ``df`` as ``_v<batch_id>``, flip ``_CURRENT`` to it, then
        GC all but the current version and ``_KEEP_VERSIONS`` older ones."""
        version = f"_v{batch_id}"
        out_dir = os.path.join(self.target_path, version)
        if os.path.exists(out_dir):
            shutil.rmtree(out_dir)  # replayed uncommitted batch: rebuild
        df.write.mode("overwrite").parquet(out_dir)
        # a replayed batch rewrites a directory Spark may have listed before
        # the crash — drop the stale file-status cache entry or readers hit
        # FILE_NOT_EXIST on the torn version's old part files
        self.spark.catalog.refreshByPath(out_dir)
        write_pointer(os.path.join(self.target_path, "_CURRENT"), version)
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
    plus at most one live ``snap<w>`` fold of every segment ≤ ``w``."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root

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
        """Marked segment ids above the watermark, in numeric order."""
        w = self.watermark()
        if not os.path.isdir(self.root):
            return []
        ids = (_id_after(n, _MARKER) for n in os.listdir(self.root))
        return sorted(i for i in ids if i is not None and i > w)

    def paths(self, upto: int | None = None) -> list[str]:
        """The live snapshot, then the marked segments ≤ ``upto``."""
        _, snap = self._snapshot()
        out = [os.path.join(self.root, snap)] if snap else []
        return out + [
            self._dir(i) for i in self.ids() if upto is None or i <= upto
        ]

    def read(self, upto: int | None = None, schema=None) -> DataFrame:
        """The live rows ≤ ``upto``; an empty ``schema`` frame when there
        are none (with no schema, Spark's own no-input error)."""
        paths = self.paths(upto)
        if not paths and schema is not None:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.parquet(*paths)

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
        with no rows leaves no segment, and one the snapshot already
        holds is left alone."""
        if batch_id <= self.watermark():
            return
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
