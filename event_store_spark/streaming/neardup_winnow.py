"""Streaming winnowing near-dup ingest gate over a persisted DedupIndex.

The ingest-time consumer of `plans.dedup_index`'s ``winnow`` kind: as
document micro-batches arrive, each batch is probed against the
persisted fingerprint index AND against itself, duplicates are dropped,
and the admitted documents' fingerprints are folded back into the index
— so a near-dup of ANY previously admitted document (this batch, a prior
batch, or the original corpus build) is caught. `streaming_neardup_lsh`
(stateful.py) keeps its signature state in the streaming state store;
this gate keeps it in the SHARED parquet index, which is what a
production ingest fleet needs: the index outlives the query, serves
concurrent batch probes, and compacts under `GenerationPair`'s atomic
flip.

Admission rule (deterministic, batch-cut-invariant for id-ordered
arrivals): a document is dropped iff it shares ≥ MIN_SHARED winnowing
fingerprints with an indexed document, or with a lower-doc_id SURVIVOR
of its own batch (keep-first over admitted documents, the sequential
fold a one-doc-per-batch stream would compute). Survivor means exactly
that: a batchmate that is itself dropped — by the index probe or by an
even-lower survivor — condemns nobody, so the verdict for a document
does not depend on where the batch cuts fall. Within-batch shared
counts are per (keep, drop) PAIR (two 1-fingerprint brushes with two
different batchmates do not add up to a drop) and apply the same
MAX_FP_DOCS stoplist as the registered query: a fingerprint carried by
more live batch documents than the cap is non-discriminative and
witnesses no pair.

Exactly-once across crashes, the engine's standard discipline
(`streaming.eos`):
- the admitted-docs sink writes to a DETERMINISTIC per-batch directory
  (``out_dir/batch-<id>``, overwrite) — redelivery rewrites bytes;
- the index append uses `DedupIndex.append(batch_id=...)` — the
  batch's own `SegmentLog` segment, rewritten on redelivery — so a
  redelivered batch cannot duplicate signature rows;
- the gate's ledger (``out_dir/_LEDGER``) commits LAST; any crash
  before it replays the whole batch over those idempotent writes, and
  `eos` alone decides which batches are already applied. A checkpoint
  the ledger has not seen raises: rebuild by deleting ``out_dir`` and
  rebuilding the index.

Scale shape: the probe broadcasts only the BATCH's fingerprints (the
index side never shuffles — partition-pruned parquet), the within-batch
pair stage is the registered query's in-row expansion bounded by the
stoplist cap, and compaction cadence is the operator's choice via
`DedupIndex.compact()` exactly as with the ANN segment indexes.
Keep-first chain resolution (A kept, B dups A, C dups only B → C kept)
is inherently sequential in doc_id order, so it runs on the DRIVER over
the qualifying pair list — bounded state in the repo's standard sense:
after the stoplist cap the pair count is ≤ |batch| × MAX_FP_DOCS, a
micro-batch-sized edge list, never anything corpus-sized.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from event_store_spark.plans.dedup_index import DedupIndex
from event_store_spark.plans.generations import LEDGER
from event_store_spark.streaming.eos import ExactlyOnceSink, exactly_once


class WinnowDedupGate(ExactlyOnceSink):
    """foreachBatch gate: drop near-dups, land survivors, grow the index.

    Subclasses (streaming/substring_gate.py) swap the duplicate
    criterion by overriding ``REQUIRED_KIND`` and ``admitted``; the
    exactly-once sink discipline and index fold are shared."""

    REQUIRED_KIND = "winnow"

    def __init__(self, index: DedupIndex, out_dir: str, checkpoint: str):
        if index.kind != self.REQUIRED_KIND:
            raise ValueError(
                f"gate requires a {self.REQUIRED_KIND} index, "
                f"got {index.kind!r}"
            )
        self.index = index
        self.out_dir = out_dir
        self.checkpoint = checkpoint
        self.ledger = os.path.join(out_dir, LEDGER)

    # -------------------------------------------------------------- gate

    def admitted(self, batch_docs: DataFrame) -> DataFrame:
        """The batch minus near-dups of the index or of lower-id batch
        SURVIVORS (pure plan + bounded driver fold — shared by the sink
        and by tests).

        Three stages, each pinned against the sequential reference in
        tests/test_neardup_winnow_gate.py:
        1. index probe — per-pair ≥ MIN_SHARED (DedupIndex.probe's rule);
           its drops are final and are EXCLUDED from the keep side of
           stage 2 (an index-duplicate is not a survivor and condemns
           nobody).
        2. within-batch pairs among index survivors — grouped by the
           (keep, drop) PAIR before thresholding (a doc sharing one
           fingerprint with each of two batchmates is NOT a duplicate),
           under the registered MAX_FP_DOCS stoplist.
        3. keep-first chain resolution in ascending doc_id over the
           bounded qualifying-pair list (≤ |batch| × MAX_FP_DOCS edges
           after the cap): a doc drops iff some KEPT lower-id neighbor
           condemns it, so B dropped for duplicating A cannot drag down
           a C that resembles only B — the batch-cut-invariant verdict.
        """
        from event_store_spark.plans.pipeline11 import (
            MAX_FP_DOCS,
            MIN_SHARED,
            winnow_fingerprints,
        )

        spark = batch_docs.sparkSession
        id_schema = batch_docs.select("doc_id").schema
        idx_drop = sorted(
            r["new_doc_id"]
            for r in self.index.probe(batch_docs)
            .select("new_doc_id")
            .distinct()
            .collect()
        )
        fp = winnow_fingerprints(batch_docs)
        live = fp
        if idx_drop:
            live = fp.join(
                F.broadcast(
                    spark.createDataFrame([(i,) for i in idx_drop], id_schema)
                ),
                "doc_id",
                "left_anti",
            )
        pairs = (
            live.groupBy("f")
            .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
            .where((F.size("ds") >= 2) & (F.size("ds") <= MAX_FP_DOCS))
            .select(
                F.explode(
                    F.expr(
                        "flatten(transform(ds, (a, i) -> "
                        "transform(slice(ds, i + 2, size(ds)), "
                        "b -> struct(a AS keep, b AS drop))))"
                    )
                ).alias("p")
            )
            .groupBy(F.col("p.keep").alias("keep"), F.col("p.drop").alias("drop"))
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .where(F.col("n_shared") >= MIN_SHARED)
            .select("keep", "drop")
        )
        nbrs: dict = {}
        for r in pairs.collect():
            nbrs.setdefault(r["drop"], []).append(r["keep"])
        within: set = set()
        # keep < drop always, so ascending order decides every keep
        # before any drop that cites it
        for d in sorted(nbrs):
            if any(k not in within for k in nbrs[d]):
                within.add(d)
        dropped = set(idx_drop) | within
        if not dropped:
            return batch_docs
        drop_df = spark.createDataFrame(
            [(d,) for d in sorted(dropped)], id_schema
        )
        return batch_docs.join(F.broadcast(drop_df), "doc_id", "left_anti")

    def _apply(self, df: DataFrame, batch_id: int, commit) -> None:
        out = os.path.join(self.out_dir, f"batch-{batch_id}")
        self.admitted(df).write.mode("overwrite").parquet(out)
        # re-read what the sink landed: one source of truth for the
        # index fold, and the recompute-vs-landed gap a retried
        # nondeterministic upstream could open is closed by reading
        # the committed bytes
        self.index.append(self.index.spark.read.parquet(out), batch_id=batch_id)
        commit()

    def foreach_batch(self):
        """The exactly-once foreachBatch function for writeStream."""
        return exactly_once(self.checkpoint, self.ledger, self._apply)
