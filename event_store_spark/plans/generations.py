"""The one publish path for every versioned on-disk artifact.

A versioned artifact is published the way the reference publishes an
event and the way Structured Streaming's file sink commits a batch: the
new version is written in full under a fresh name, then ONE atomic,
fsync'd replace of a small pointer file (`write_pointer`) makes it live.
Readers resolve through the pointer, so a crash at any point leaves
either the old version or the new one fully live, never a mix. Two
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
