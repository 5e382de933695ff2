"""Streaming EXACT-SUBSTRING ingest gate over a persisted DedupIndex.

The streaming twin of `plans.pipeline12`'s substring-dedup family
(Lee et al. ExactSubstr, round 12): as document micro-batches arrive,
each is probed against the persisted 8-gram postings index
(`DedupIndex(kind="substring")`) and against itself; a document is
dropped iff it shares a maximal verbatim span ≥ MIN_SUB_LEN tokens with
an indexed document or with a lower-doc_id SURVIVOR of its own batch
(keep-first, identical admission algebra to `WinnowDedupGate` — the
verdicts are batch-cut-invariant for id-ordered arrivals). Admitted
documents' postings fold back into the index, so later batches are
gated against them too.

Compared to the winnow gate (which certifies a K+W−1-token verbatim
overlap from ONE shared selected fingerprint), this gate enforces the
exact-substring criterion itself: every 8-gram anchor is indexed, and
the probe composes anchors into maximal spans as diagonal runs before
thresholding — no sampling, no winnowing window, the strictest verbatim
gate in the family. The cost asymmetry is the point: the index carries
one posting per token (≈ token count rows, parquet-bucketed by gram
hash), while winnowing keeps ~2/(W+1) of that — choose per corpus.

Everything else — deterministic per-batch sink dirs, batch-keyed
segment appends, the `streaming.eos` ledger committed last, crash-replay
idempotence, ``start(stream)`` — is inherited from `WinnowDedupGate`
unchanged.

Scale shape: the probe broadcasts only the batch's postings onto the
partition-pruned index (index side never shuffles); the within-batch
span stage is the registered query's in-row pair expansion bounded by
the MAX_GRAM_OCCS stop-phrase cap; the keep-first chain resolves on the
driver over the qualifying PAIR list (≤ batch-sized, never
corpus-sized).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from event_store_spark.streaming.neardup_winnow import WinnowDedupGate


class SubstringDedupGate(WinnowDedupGate):
    """foreachBatch gate: drop exact-substring dups, land survivors,
    grow the postings index."""

    REQUIRED_KIND = "substring"

    def admitted(self, batch_docs: DataFrame) -> DataFrame:
        """The batch minus documents sharing a ≥ MIN_SUB_LEN-token
        verbatim span with the index or with a lower-id batch survivor.

        1. index probe — `DedupIndex.probe`'s substring rule (maximal
           diagonal-run span ≥ MIN_SUB_LEN); drops are final and
           excluded from the keep side of stage 2.
        2. within-batch spans among index survivors — the registered
           query's own `maximal_spans_from` plan (in-row pair expansion
           under the stop-phrase cap); every surviving (da < db) span
           pair is a (keep, drop) candidate edge.
        3. keep-first chain resolution in ascending doc_id on the
           driver: a doc drops iff some KEPT lower-id partner shares a
           qualifying span with it.
        """
        from event_store_spark.plans.pipeline12 import maximal_spans_from
        from event_store_spark.plans.tokenized import tokenized_projection

        spark = batch_docs.sparkSession
        id_schema = batch_docs.select("doc_id").schema
        idx_drop = sorted(
            r["new_doc_id"]
            for r in self.index.probe(batch_docs)
            .select("new_doc_id")
            .distinct()
            .collect()
        )
        tok = tokenized_projection(batch_docs)
        if idx_drop:
            tok = tok.join(
                F.broadcast(
                    spark.createDataFrame([(i,) for i in idx_drop], id_schema)
                ),
                "doc_id",
                "left_anti",
            )
        pairs = (
            maximal_spans_from(tok)
            .select(F.col("da").alias("keep"), F.col("db").alias("drop"))
            .distinct()
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
