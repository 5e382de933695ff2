"""The one lifecycle of the persisted ANN indexes: IVF, PQ, SQ8 and
per-cell HNSW.

    idx = VectorIndex.build(spark, sf_dir, path, "ivf")  # train + publish
    idx = VectorIndex.open(spark, path)                  # live generation
    idx.search(query_vec, k=5)                           # native top-k plan
    idx.maintain(stream, additions_path, checkpoint)     # streamed additions
    idx.compact(additions_path)                          # fold them in

An index is a `generations.GenerationPair`: a bulk parquet directory and
the meta file that must never be observed out of step with it (centroids,
codebook, limits or graph parameters), published by one pointer flip.
Each publish also refreshes the root copy of the meta file, so that
marker alone names the kind. A kind module keeps only what differs
between kinds (`_Kind`): its training and meta text, its map-side
encoder for arriving vectors, its search kernel, and for HNSW the
touched-cell relink that replaces the newest-wins fold at compaction.

Search result shape stays native to the kind ((vec_id, sim) cosine for
IVF/SQ8/HNSW, (vec_id, adist) squared-L2 ADC for PQ): one forced score
type would silently re-rank.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from event_store_spark.plans import hnsw, ivf, pipeline5, pq
from event_store_spark.plans.generations import (
    GenerationPair,
    SegmentLog,
    segment_wins,
)


class _Kind(NamedTuple):
    #: the index's (bulk dir, meta file) names and pointer at a path
    pair: Callable[[str], GenerationPair]
    #: ``train(spark, sf_dir, **options)`` → (rows, meta text)
    train: Callable
    #: meta text → the trained state searches and encoders take
    parse: Callable
    #: ``encode(embeddings, trained)`` → additions rows
    encode: Callable[[DataFrame, object], DataFrame]
    #: ``search(rows, trained, query_v, k[, nprobe])`` → top-k rows
    search: Callable[..., DataFrame]
    #: rows are partitioned by cell: a search probes cells and serves an
    #: additions log beside them; otherwise it scans the flat table
    cells: bool
    #: ``relink(base, additions)`` → rows, the compaction of a kind that
    #: is not the newest-wins fold
    relink: Callable[[DataFrame, DataFrame], DataFrame] | None = None


#: the kinds, in the order `open` looks for their meta marker
_KINDS = {
    "ivf": _Kind(
        lambda path: GenerationPair(path, "cells", "centroids.json", pointer="CELLS"),
        ivf.ivf_train, ivf.ivf_parse, ivf._assign, ivf.ivf_search, True,
    ),
    "pq": _Kind(
        lambda path: GenerationPair(path, "codes", "codebook.json", pointer="CODES"),
        pq.pq_train, pq.pq_parse, pq.pq_encode, pq.pq_search, False,
    ),
    "sq8": _Kind(
        lambda path: GenerationPair(path, "codes", "limits.json", pointer="CODES"),
        pipeline5.sq8_train, pipeline5.sq8_parse,
        lambda emb, limits: pipeline5.sq8_quantize(emb, *limits),
        pipeline5.sq8_search, False,
    ),
    "hnsw": _Kind(
        lambda path: GenerationPair(path, "graph", "hnsw.json"),
        hnsw.hnsw_train, hnsw.hnsw_parse, ivf._assign, hnsw.hnsw_search, True,
        hnsw.hnsw_relink,
    ),
}
KINDS = tuple(_KINDS)


def _spec(kind: str) -> _Kind:
    if kind not in _KINDS:
        raise ValueError(f"unknown index kind {kind!r}; one of {KINDS}")
    return _KINDS[kind]


class VectorIndex:
    """The index of kind ``kind`` at ``path``, opened on its live
    generation: ``live`` names its (bulk dir, meta file) and ``trained``
    is the parsed meta (IVF/HNSW centroids, PQ codebook, SQ8 (mns, mxs))."""

    def __init__(self, spark: SparkSession, path: str, kind: str):
        self._kind = _spec(kind)
        self.spark = spark
        self.path = path
        self.kind = kind
        self._pair = self._kind.pair(path)
        self.live = self._pair.live()
        with open(os.path.join(path, self.live[1])) as fh:
            self._meta = fh.read()
        self.trained = self._kind.parse(self._meta)

    @classmethod
    def build(
        cls, spark: SparkSession, sf_dir: str, path: str, kind: str, **options
    ) -> "VectorIndex":
        """Train on the corpus at ``sf_dir`` and publish the result as the
        live generation at ``path`` (a retrain when an index is there).
        ``options`` go to the kind's training: ``variant`` for IVF
        (``"full"`` | ``"sampled"`` | ``"adaptive"``), ``spill`` for HNSW."""
        spec = _spec(kind)
        rows, meta = spec.train(spark, sf_dir, **options)
        _publish(spark, spec, path, rows, meta)
        return cls(spark, path, kind)

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "VectorIndex":
        """Open the index at ``path``; its kind is the one whose root meta
        file is there (an ``index.json`` left by older builds is ignored)."""
        for kind, spec in _KINDS.items():
            if os.path.exists(os.path.join(path, spec.pair(path).meta_name)):
                return cls(spark, path, kind)
        raise FileNotFoundError(f"no vector index at {path}")

    def rows(self, additions_path: str | None = None) -> DataFrame:
        """The live generation's rows, lazily read; with ``additions_path``
        also the committed rows of that additions log, whose columns the
        base lacks (an HNSW graph's ``level``, ``nbrs``) read as null."""
        base = self.spark.read.parquet(os.path.join(self.path, self.live[0]))
        if additions_path is None:
            return base
        adds = SegmentLog(self.spark, additions_path).read(schema=base.schema)
        return base.unionByName(
            adds.select(*(c for c in base.columns if c in adds.columns)),
            allowMissingColumns=True,
        )

    def search(
        self,
        query_v: list[float],
        k: int = 5,
        *,
        nprobe: int = 1,
        additions_path: str | None = None,
    ) -> DataFrame:
        """Top-k under the kind's native plan. ``nprobe`` (cell fan-out)
        and ``additions_path`` (serve an additions log beside the base)
        are cell-probing knobs, rejected by the flat-scan kinds, where
        they cannot mean anything."""
        if not self._kind.cells:
            if additions_path is not None or nprobe != 1:
                raise ValueError(
                    f"{self.kind} is a flat-scan index: nprobe/additions_path "
                    "do not apply (cell-probing-kind knobs: ivf/hnsw)"
                )
            return self._kind.search(self.rows(), self.trained, query_v, k=k)
        # HNSW memoizes its centroid-layer graph per index
        key = {"key": self.path} if self.kind == "hnsw" else {}
        return self._kind.search(
            self.rows(additions_path), self.trained, query_v, k=k,
            nprobe=nprobe, **key,
        )

    def maintain(self, embeddings_stream: DataFrame, segment_path: str,
                 checkpoint: str):
        """Start the availableNow pass that encodes arriving embeddings
        (columns ``vec_id``, ``v: array<double>``) under this index's
        FROZEN trained state, map-side with no shuffle, and appends them
        to the additions log at ``segment_path``: a
        `generations.SegmentLog`, one segment per micro-batch (partitioned
        by cell for the cell kinds), committed by the stream's
        `streaming.eos` ledger. Serve it with ``search(additions_path=)``
        or ``rows(additions_path)``; ``compact`` folds it in. Retraining
        stays the periodic ``build``. Returns the StreamingQuery."""
        from event_store_spark.streaming import eos

        log = SegmentLog(self.spark, segment_path)
        partition_by = ("cell",) if self._kind.cells else ()

        def apply(df: DataFrame, batch_id: int, commit) -> None:
            log.write(batch_id, self._kind.encode(df, self.trained), partition_by)
            commit()

        return eos.start(embeddings_stream, checkpoint, log.ledger, apply)

    def compact(self, additions_path: str) -> None:
        """Fold an additions log into a new generation without retraining:
        per vec_id the newest addition wins over older ones and over the
        base (HNSW instead relinks the touched cells' graphs). The pointer
        flip publishes it, the superseded generation outlives the flip
        for in-flight readers, re-folding the same log is idempotent, and
        a log with no committed segment publishes nothing."""
        log = SegmentLog(self.spark, additions_path)
        if not log.paths():
            return
        base, adds = self.rows(), log.newest("vec_id")
        if self._kind.relink is None:
            # the trained state is unchanged: the pointer keeps naming
            # the live meta file
            rows, meta = segment_wins(base, adds, "vec_id"), None
        else:
            rows, meta = self._kind.relink(base, adds), self._meta
        _publish(self.spark, self._kind, self.path, rows, meta)
        self.live = self._pair.live()


def _publish(
    spark: SparkSession, kind: _Kind, path: str, rows: DataFrame, meta: str | None
) -> None:
    """Write ``rows`` as the next generation at ``path`` and flip to it
    with ``meta`` (None: keep the live meta file)."""
    partition_by = ("cell",) if kind.cells else ()
    kind.pair(path).publish(
        spark,
        lambda out: rows.write.mode("overwrite").partitionBy(*partition_by).parquet(out),
        meta=meta,
    )
