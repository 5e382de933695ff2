"""Streaming BM25 postings maintenance — index-at-ingest for retrieval.

`plans.ir.PostingsIndex.build` backfills an EXISTING corpus's inverted
index in one pass; this maintainer keeps it current for a GROWING
document stream: each arriving micro-batch's postings rows become that
batch's segment of the index's `plans.generations.SegmentLog` via
`PostingsIndex.append` (a crash-redelivered uncommitted batch rewrites
its segment, never duplicates; the segment's marker carries its integer
stats, and the maintainer's `streaming.eos` ledger, ``_LEDGER`` in the
index directory, commits after it), so `probe()` sees new
documents immediately with the exact avgdl/n_docs a rebuild would
compute, and `compact()` folds segments into a fresh generation behind
the atomic pointer flip at the operator's cadence. The typed_events
pattern (`streaming.typed_ingest`) applied to retrieval: backfill covers
history, this covers the future, one shared row formula
(`ir._postings_rows`) so the paths cannot drift.

Scale: the per-batch work is one tokenize+groupBy over the BATCH only
(the index is never rescanned), partitioned by the same term buckets
probes prune on; compaction is one shuffle-free union rewrite.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from event_store_spark.plans.generations import LEDGER
from event_store_spark.plans.ir import PostingsIndex
from event_store_spark.streaming.eos import ExactlyOnceSink


class Bm25PostingsMaintainer(ExactlyOnceSink):
    """`start(docs_stream)` attaches to a streaming documents frame
    (doc_id, text, ...)."""

    def __init__(self, index: PostingsIndex, checkpoint: str):
        self.index = index
        self.checkpoint = checkpoint
        self.ledger = os.path.join(index.path, LEDGER)

    def _apply(self, df: DataFrame, batch_id: int, commit) -> None:
        self.index.append(df, batch_id=batch_id)
        commit()
