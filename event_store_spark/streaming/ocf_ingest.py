"""OCF file-arrival ingestion: .avro files → event-store appends, EOS.

The missing direction for an Avro-native shop migrating onto this
engine: their producers drop Object Container Files into a landing
directory; this tailer turns each arriving file into one event-store
append, exactly once. Spark's OSS file-stream sources do not cover
binary formats, so the tailer is a poll loop over the landing glob with
the engine's standard state discipline instead of a readStream:

- **Unit of work = one file = one append.** All of a file's rows land
  under one lsn (same-commit siblings), and every row carries a
  ``src`` metadata entry naming its file — the idempotence key, the
  path RELATIVE to the landing root (the pattern's non-glob prefix),
  so recursive globs whose leaves share a basename cannot collide
  (ADVICE r7).
- **Exactly-once across crashes** without transactions: a processed-
  files ledger (fsync + os.replace JSON, the ProgressStore pattern)
  short-circuits the normal path; if a crash lands BETWEEN the append
  and the ledger write, the retry finds the file absent from the ledger
  but PRESENT in the topic and records it without re-appending — no
  duplicates, no loss, the same absorb-don't-reprocess shape as the
  replicator's recovery. The presence probe is ONE scan of the topic's
  distinct ``src`` values, run only on the FIRST poll of a process
  that starts with unprocessed files (the only window a crash can have
  left an unledgered append) — never per-file, never on later polls
  (ADVICE r7: the per-file probe was O(new_files × topic_size)).
- Files are processed in name order (producers that need strict
  ordering name files monotonically — the standard landing-zone
  contract); a file must be fully written before it matches the glob
  (write-then-rename on the producer side, as everywhere).

Scale: the poll lists one directory, the per-file decode is the
distributed `read_avro_container`, and the recovery scan is bounded to
crash windows. State is O(#files) file names — compact the ledger by
archiving ingested files out of the landing dir on whatever cadence
retention wants.
"""

from __future__ import annotations

import glob as _glob
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from event_store_spark.avro.container import read_avro_container
from event_store_spark.core.state import atomic_write
from event_store_spark.core.store import EventStore

#: reserved metadata key naming the source file of an ingested row
SRC_KEY = "src"


class OcfIngest:
    def __init__(
        self,
        store: EventStore,
        topic: str,
        pattern: str,
        state_path: str,
        to_envelope: Callable[[DataFrame], DataFrame],
        key_type: str = "string",
    ):
        """``to_envelope`` maps the file's decoded columns to the append
        shape (key / payload / optional timestamp); the tailer adds the
        ``src`` metadata entry itself."""
        self.store = store
        self.topic = topic
        self.pattern = pattern
        self.state_path = state_path
        self.to_envelope = to_envelope
        self.key_type = key_type
        #: crash-window recovery probe pending? True until the first poll
        #: completes; subsequent polls in this process cannot have an
        #: unledgered append (``_record`` runs before the next file).
        self._recovery_pending = True

    def _src_id(self, path: str) -> str:
        """Idempotence key for a file: its path relative to the landing
        root — the longest glob-free directory prefix of the pattern —
        falling back to the basename for a rootless pattern. Distinct
        files under a recursive glob therefore get distinct keys even
        when their basenames collide."""
        root = self.pattern
        while any(ch in os.path.basename(root) for ch in "*?["):
            root = os.path.dirname(root)
            if not root:
                return os.path.basename(path)
        if not os.path.isdir(root):
            root = os.path.dirname(root) or "."
        return os.path.relpath(path, root)

    # ------------------------------------------------------------- state

    def _ledger(self) -> set[str]:
        try:
            with open(self.state_path) as fh:
                return set(json.load(fh)["files"])
        except OSError:
            return set()

    def _record(self, done: set[str]) -> None:
        os.makedirs(os.path.dirname(self.state_path) or ".", exist_ok=True)
        atomic_write(self.state_path, json.dumps({"files": sorted(done)}))

    def _srcs_in_topic(self) -> set[str]:
        """Recovery-only presence probe: which src keys did a crashed run
        already append? ONE scan of the topic collecting its distinct
        ``src`` metadata values — O(topic) once per process start, result
        bounded by #files-ever-ingested (ledger-sized), versus the r7
        shape's full scan per unprocessed file."""
        try:
            events = self.store.read_events(self.topic)
        except Exception:
            return set()  # topic not created yet
        rows = (
            events.select(F.col("metadata")[SRC_KEY].alias("src"))
            .where(F.col("src").isNotNull())
            .distinct()
            .collect()
        )
        return {bytes(r.src).decode() for r in rows}

    # -------------------------------------------------------------- poll

    def poll_once(self) -> list[str]:
        """Ingest every unprocessed file matching the pattern, oldest
        name first; returns the src keys appended this call."""
        spark = self.store.spark
        done = self._ledger()
        recursive = "**" in self.pattern
        new = [
            (p, self._src_id(p))
            for p in sorted(_glob.glob(self.pattern, recursive=recursive))
            if self._src_id(p) not in done
        ]
        if self._recovery_pending:
            # first poll of this process: a crash may have appended a file
            # without recording it — absorb from ONE topic scan, but only
            # when there is anything unledgered to check
            if new:
                in_topic = self._srcs_in_topic()
                absorbed = {src for _, src in new if src in in_topic}
                if absorbed:
                    done |= absorbed
                    self._record(done)
                    new = [(p, s) for p, s in new if s not in absorbed]
            self._recovery_pending = False
        appended: list[str] = []
        for path, src in new:
            rows = read_avro_container(spark, path)
            env = self.to_envelope(rows).withColumn(
                "metadata",
                F.create_map(
                    F.lit(SRC_KEY), F.lit(src.encode())
                ).cast("map<string,binary>"),
            )
            self.store.append(self.topic, env, key_type=self.key_type)
            done.add(src)
            self._record(done)
            appended.append(src)
        return appended
