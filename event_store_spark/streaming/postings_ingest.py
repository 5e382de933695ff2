"""Streaming BM25 postings maintenance — index-at-ingest for retrieval.

`plans.ir.PostingsIndex.build` backfills an EXISTING corpus's inverted
index in one pass; this maintainer keeps it current for a GROWING
document stream: each arriving micro-batch's postings rows become that
batch's segment of the index's `plans.generations.SegmentLog` via
`PostingsIndex.append` (a crash-redelivered batch rewrites its segment,
never duplicates; the segment's marker, which carries its integer stats,
commits last), so `probe()` sees new
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

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from event_store_spark.plans.ir import PostingsIndex


class Bm25PostingsMaintainer:
    def __init__(self, index: PostingsIndex, checkpoint: str):
        self.index = index
        self.checkpoint = checkpoint

    def start(self, docs_stream: DataFrame) -> StreamingQuery:
        """Attach to a streaming documents frame (doc_id, text, ...)."""

        def sink(df: DataFrame, batch_id: int) -> None:
            self.index.append(df, batch_id=batch_id)

        return (
            docs_stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", self.checkpoint)
            .trigger(availableNow=True)
            .start()
        )
