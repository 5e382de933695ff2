"""Streaming corpus curation: the composed ingest pipeline as one sink.

`plans.pipeline.corpus_curation` runs the canonical curation chain —
quality gate → exact dedup → per-source quota — over an EXISTING corpus;
this maintainer applies the same chain to documents AS THEY ARRIVE, so
the admitted corpus is ready the moment ingestion stops. Stage order and
semantics match the batch plan, with one documented difference: the
batch plan's dedup/quota tie-break is hash/doc_id order over the whole
corpus, a stream's can only be ARRIVAL order — identical when documents
arrive in doc_id order (how the pin test drives it) and first-come-wins
otherwise (the only meaningful streaming semantics).

Per micro-batch, inside ONE idempotent foreachBatch transaction:

1. quality gate — the shared `quality_score` closed form + length
   bounds, map-side (stateless, no shuffle);
2. exact dedup — batch hashes anti-join the persisted seen-hash ledger
   (sha2(text), the q30 key), then an in-batch keep-min-doc_id collapse;
3. per-source quota — remaining capacity = quota − already-admitted
   (an O(#sources) aggregate of the admitted table, rides as a map
   literal), filled in doc_id order within the batch;
4. publish — admitted rows and the batch's new hashes land in
   per-batch subdirs (`admitted/b<id>`, `seen/b<id>`), then the LAST
   step records the batch id behind an fsync+os.replace pointer.
   Replayed batches with id <= the pointer are skipped whole, so a
   crash anywhere re-runs the batch against the exact pre-batch state
   (subdir overwrite is idempotent) — the repo's standard EOS
   composition (ivm/cdc/rollup pointer discipline).

Scale: the gate is map-side; the seen-ledger probe is one hash-keyed
anti-join per batch (ledger sharded by its own parquet layout, batch
side small); quota state is O(#sources). Nothing in the chain holds
per-corpus driver state.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from event_store_spark.core.state import atomic_write

#: batch-plan constants (plans/pipeline.py quality_filter/corpus_curation)
QUALITY_MIN = 0.55
LEN_LO, LEN_HI = 100, 20_000


class CurationPipeline:
    def __init__(
        self,
        spark: SparkSession,
        target_path: str,
        checkpoint: str,
        quota: int = 40,
        compact_every: int = 16,
    ):
        self.spark = spark
        self.target_path = target_path
        self.checkpoint = checkpoint
        self.quota = quota
        #: fold per-batch subdirs into one snapshot once this many
        #: accumulate (ivm's cadence): a long-lived ingest otherwise
        #: grows one directory per micro-batch forever, and the
        #: seen-ledger anti-join pays the listing every batch
        self.compact_every = compact_every

    # ------------------------------------------------------------ state

    def _ptr(self) -> str:
        return os.path.join(self.target_path, "BATCH")

    def _last_batch(self) -> int:
        try:
            with open(self._ptr()) as fh:
                return json.load(fh)["batch_id"]
        except OSError:
            return -1

    def _commit(self, batch_id: int) -> None:
        os.makedirs(self.target_path, exist_ok=True)
        atomic_write(self._ptr(), json.dumps({"batch_id": batch_id}))

    def _snapshot(self, kind: str) -> tuple[int, str] | None:
        """(watermark batch id, dir name) of the kind's folded snapshot."""
        try:
            with open(os.path.join(self.target_path, kind, "_SNAP")) as fh:
                w, name = fh.read().split()
                return int(w), name
        except OSError:
            return None

    def _subdirs(self, kind: str, upto: int) -> list[str]:
        """Committed per-batch subdirs (snapshot watermark < id <= upto)."""
        root = os.path.join(self.target_path, kind)
        if not os.path.isdir(root):
            return []
        snap = self._snapshot(kind)
        base_w = snap[0] if snap else -1
        out = []
        for d in os.listdir(root):
            if d.startswith("b") and d[1:].isdigit() and base_w < int(d[1:]) <= upto:
                out.append(os.path.join(root, d))
        return out

    def _read_state(self, kind: str, upto: int) -> list[str]:
        """All committed paths of a kind: snapshot (if any) + live subdirs."""
        dirs = self._subdirs(kind, upto)
        snap = self._snapshot(kind)
        if snap is not None:
            dirs.insert(0, os.path.join(self.target_path, kind, snap[1]))
        return dirs

    def _maybe_compact(self, kind: str, upto: int) -> None:
        """Fold snapshot + per-batch subdirs into one snap<upto> dir behind
        an atomic _SNAP pointer flip (ivm's crash-safe ordering: fold
        written fully, pointer flipped, inputs GC'd — a crash leaves the
        pointer naming a complete snapshot or the prior state)."""
        import shutil

        live = self._subdirs(kind, upto)
        if len(live) < self.compact_every:
            return
        paths = self._read_state(kind, upto)
        root = os.path.join(self.target_path, kind)
        out = os.path.join(root, f"snap{upto}")
        if os.path.exists(out):
            shutil.rmtree(out)  # crashed earlier attempt at the same fold
        self.spark.read.parquet(*paths).write.mode("overwrite").parquet(out)
        self.spark.catalog.refreshByPath(out)
        old_snap = self._snapshot(kind)
        atomic_write(os.path.join(root, "_SNAP"), f"{upto} snap{upto}")
        for p in live:
            shutil.rmtree(p, ignore_errors=True)
        if old_snap is not None and old_snap[1] != f"snap{upto}":
            shutil.rmtree(os.path.join(root, old_snap[1]), ignore_errors=True)

    def table(self) -> DataFrame:
        """The admitted corpus so far (committed batches only)."""
        dirs = self._read_state("admitted", self._last_batch())
        if not dirs:
            return self.spark.createDataFrame(
                [], "doc_id bigint, source string, lang string, n_chars bigint"
            )
        return self.spark.read.parquet(*dirs)

    # ------------------------------------------------------------- sink

    def _gate(self, df: DataFrame, batch_id: int) -> None:
        from event_store_spark.functions.text import quality_score

        last = self._last_batch()
        if batch_id <= last:
            return  # committed batch replayed whole: skip (idempotent)

        keep = (quality_score() >= QUALITY_MIN) & F.col("n_chars").between(
            LEN_LO, LEN_HI
        )
        passed = (
            df.where(keep)
            .select(
                "doc_id",
                "source",
                "lang",
                F.col("n_chars").cast("bigint").alias("n_chars"),
                F.sha2(F.col("text"), 256).alias("_h"),
            )
        )

        seen_dirs = self._read_state("seen", last)
        if seen_dirs:
            ledger = self.spark.read.parquet(*seen_dirs)
            passed = passed.join(ledger, passed["_h"] == ledger["h"], "left_anti")
        w_dedup = Window.partitionBy("_h").orderBy("doc_id")
        fresh = (
            passed.withColumn("_rn", F.row_number().over(w_dedup))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

        admitted_counts = {
            r["source"]: r["n"]
            for r in self.table().groupBy("source").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        cap_map = (
            F.create_map(
                *[
                    x
                    for s, n in sorted(admitted_counts.items())
                    for x in (F.lit(s), F.lit(int(n)))
                ]
            )
            if admitted_counts
            else F.create_map().cast("map<string,int>")
        )
        w_quota = Window.partitionBy("source").orderBy("doc_id")
        admitted = (
            fresh.withColumn("_rk", F.row_number().over(w_quota))
            .where(
                F.col("_rk")
                <= F.lit(self.quota) - F.coalesce(cap_map[F.col("source")], F.lit(0))
            )
            .drop("_rk")
        )

        # publish: data first, pointer LAST (the commit point)
        admitted.drop("_h").write.mode("overwrite").parquet(
            os.path.join(self.target_path, "admitted", f"b{batch_id}")
        )
        # the ledger records EVERY quality-passing hash (quota rejects
        # included): a later duplicate of a quota-rejected doc is still a
        # duplicate — exactly the batch plan's dedup-before-quota order
        fresh.select(F.col("_h").alias("h")).write.mode("overwrite").parquet(
            os.path.join(self.target_path, "seen", f"b{batch_id}")
        )
        self._commit(batch_id)
        # post-commit maintenance: fold per-batch subdirs once enough
        # accumulate (everything folded is <= the committed pointer)
        self._maybe_compact("seen", batch_id)
        self._maybe_compact("admitted", batch_id)

    def start(self, docs_stream: DataFrame) -> StreamingQuery:
        return (
            docs_stream.writeStream.foreachBatch(self._gate)
            .option("checkpointLocation", self.checkpoint)
            .trigger(availableNow=True)
            .start()
        )
