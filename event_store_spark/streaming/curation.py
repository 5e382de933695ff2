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

Per micro-batch, inside ONE `streaming.eos` exactly-once batch:

1. quality gate — the shared `quality_score` closed form + length
   bounds, map-side (stateless, no shuffle);
2. exact dedup — batch hashes anti-join the persisted seen-hash ledger
   (sha2(text), the q30 key), then an in-batch keep-min-doc_id collapse;
3. per-source quota — remaining capacity = quota − already-admitted
   (an O(#sources) aggregate of the admitted table, rides as a map
   literal), filled in doc_id order within the batch;
4. publish — admitted rows and the batch's new hashes land as the
   batch's segments of two `plans.generations.SegmentLog`s
   (``admitted/``, ``seen/``), then the LAST step commits the sink's
   `streaming.eos` ledger. Reads take only segments below the batch,
   and both logs list nothing above the ledger, so a crash anywhere
   re-runs the batch against the exact pre-batch state (a segment is
   rewritten under its own batch id), and `eos` decides which batches
   are already applied. After the commit each log folds its segments
   into one snapshot every ``SEGMENTS_PER_FOLD`` batches, so the
   seen-ledger anti-join never pays a listing that grows with the
   stream.

Scale: the gate is map-side; the seen-ledger probe is one hash-keyed
anti-join per batch (ledger sharded by its own parquet layout, batch
side small); quota state is O(#sources). Nothing in the chain holds
per-corpus driver state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from event_store_spark.plans.generations import LEDGER, SegmentLog
from event_store_spark.streaming.eos import ExactlyOnceSink

#: batch-plan constants (plans/pipeline.py quality_filter/corpus_curation)
QUALITY_MIN = 0.55
LEN_LO, LEN_HI = 100, 20_000


class CurationPipeline(ExactlyOnceSink):
    def __init__(
        self,
        spark: SparkSession,
        target_path: str,
        checkpoint: str,
        quota: int = 40,
    ):
        self.spark = spark
        self.target_path = target_path
        self.checkpoint = checkpoint
        self.quota = quota
        self.ledger = os.path.join(target_path, LEDGER)
        self._admitted = SegmentLog(
            spark, os.path.join(target_path, "admitted"), self.ledger
        )
        self._seen = SegmentLog(spark, os.path.join(target_path, "seen"), self.ledger)

    _ADMITTED = "doc_id bigint, source string, lang string, n_chars bigint"

    def table(self) -> DataFrame:
        """The admitted corpus so far (committed batches only)."""
        return self._admitted.read(schema=self._ADMITTED)

    # ------------------------------------------------------------- sink

    def _apply(self, df: DataFrame, batch_id: int, commit) -> None:
        from event_store_spark.functions.text import quality_score

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

        seen_dirs = self._seen.paths(upto=batch_id - 1)
        if seen_dirs:
            seen = self.spark.read.parquet(*seen_dirs)
            passed = passed.join(seen, passed["_h"] == seen["h"], "left_anti")
        w_dedup = Window.partitionBy("_h").orderBy("doc_id")
        fresh = (
            passed.withColumn("_rn", F.row_number().over(w_dedup))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

        before = self._admitted.read(upto=batch_id - 1, schema=self._ADMITTED)
        admitted_counts = {
            r["source"]: r["n"]
            for r in before.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
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

        # publish: data first, ledger LAST (the commit point)
        self._admitted.write(batch_id, admitted.drop("_h"))
        # the seen log records EVERY quality-passing hash (quota rejects
        # included): a later duplicate of a quota-rejected doc is still a
        # duplicate — exactly the batch plan's dedup-before-quota order
        self._seen.write(batch_id, fresh.select(F.col("_h").alias("h")))
        commit()
        # post-commit maintenance: everything folded is committed
        self._seen.fold(batch_id)
        self._admitted.fold(batch_id)

    _gate = ExactlyOnceSink._merge
