"""One facade over the four ANN index persistence APIs (VERDICT r6 #7;
the HNSW-per-cell kind joined in round 10 — VERDICT r9 #8).

`save_ivf_index`/`save_pq_index`/`save_sq8_index` grew independently with
parallel save/load/search triples; :class:`VectorIndex` unifies them
behind one lifecycle —

    idx = VectorIndex.build(spark, sf_dir, path, kind="ivf")   # train+persist
    idx = VectorIndex.open(spark, path)                        # kind from manifest
    idx.search(query_vec, k=5)                                 # native top-k plan
    idx.compact(additions_path)                                # ivf segment fold

— without changing any on-disk layout: the facade delegates to the
existing per-kind functions (whose layouts each match what the index IS:
cell-partitioned inverted file for IVF, flat code tables for PQ/SQ8), so
indexes saved by the old API open under the facade and vice versa. The
only new artifact is `index.json` naming the kind; `open` falls back to
sniffing the per-kind completeness markers for pre-facade indexes.

Search result shape stays native to the kind ((vec_id, sim) cosine for
IVF/SQ8, (vec_id, adist) squared-L2 ADC for PQ) — a facade that forced
one score type would silently re-rank. Post-compaction search equality +
recall are pinned by tests/test_ivf_persistence.py.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

KINDS = ("ivf", "pq", "sq8", "hnsw")

#: per-kind completeness marker written by the underlying save (also the
#: sniff key for pre-facade indexes)
_MARKERS = {
    "ivf": "centroids.json",
    "pq": "codebook.json",
    "sq8": "limits.json",
    "hnsw": "hnsw.json",
}


class VectorIndex:
    def __init__(self, spark: SparkSession, path: str, kind: str):
        if kind not in KINDS:
            raise ValueError(f"unknown index kind {kind!r}; one of {KINDS}")
        self.spark = spark
        self.path = path
        self.kind = kind

    # ------------------------------------------------------------ lifecycle

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        sf_dir: str,
        path: str,
        kind: str,
        *,
        variant: str = "full",
    ) -> "VectorIndex":
        """Train on the corpus at ``sf_dir`` and persist at ``path``.

        ``variant`` is IVF-only (``"full"`` | ``"sampled"`` — the
        100 TB build trains centroids on the md5 bottom-k sample)."""
        idx = cls(spark, path, kind)
        if kind == "ivf":
            from event_store_spark.plans.ivf import save_ivf_index

            save_ivf_index(spark, sf_dir, path, variant)
        elif kind == "hnsw":
            from event_store_spark.plans.hnsw import save_hnsw_index

            save_hnsw_index(spark, sf_dir, path)
        elif kind == "pq":
            from event_store_spark.plans.pq import save_pq_index

            save_pq_index(spark, sf_dir, path)
        else:
            from event_store_spark.plans.pipeline5 import save_sq8_index

            save_sq8_index(spark, sf_dir, path)
        with open(os.path.join(path, "index.json"), "w") as fh:
            json.dump({"kind": kind}, fh)
        return idx

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "VectorIndex":
        """Open a persisted index; kind from the manifest, else sniffed
        from the per-kind completeness marker (pre-facade layouts)."""
        manifest = os.path.join(path, "index.json")
        if os.path.exists(manifest):
            with open(manifest) as fh:
                return cls(spark, path, json.load(fh)["kind"])
        for kind, marker in _MARKERS.items():
            if os.path.exists(os.path.join(path, marker)):
                return cls(spark, path, kind)
        raise FileNotFoundError(f"no vector index at {path}")

    # ------------------------------------------------------------- serving

    def search(
        self,
        query_v: list[float],
        k: int = 5,
        *,
        nprobe: int = 1,
        additions_path: str | None = None,
    ) -> DataFrame:
        """Top-k under the kind's native plan. ``nprobe``/
        ``additions_path`` are cell-probing knobs (cell fan-out;
        live-additions segment union — ivf and hnsw) and rejected for
        the flat-scan kinds, where they cannot mean anything."""
        if self.kind == "ivf":
            from event_store_spark.plans.ivf import ivf_search, load_ivf_index

            centroids, assigned = load_ivf_index(
                self.spark, self.path, additions_path
            )
            return ivf_search(assigned, centroids, query_v, k=k, nprobe=nprobe)
        if self.kind == "hnsw":
            from event_store_spark.plans.hnsw import hnsw_search

            return hnsw_search(
                self.spark, self.path, query_v, k=k, nprobe=nprobe,
                additions_path=additions_path,
            )
        if additions_path is not None or nprobe != 1:
            raise ValueError(
                f"{self.kind} is a flat-scan index: nprobe/additions_path "
                "do not apply (cell-probing-kind knobs: ivf/hnsw)"
            )
        if self.kind == "pq":
            from event_store_spark.plans.pq import load_pq_index, pq_search

            book, codes = load_pq_index(self.spark, self.path)
            return pq_search(codes, book, query_v, k=k)
        from event_store_spark.plans.pipeline5 import load_sq8_index, sq8_search

        limits, codes = load_sq8_index(self.spark, self.path)
        return sq8_search(codes, limits, query_v, k=k)

    # --------------------------------------------------------- maintenance

    def maintain(self, embeddings_stream: DataFrame, segment_path: str,
                 checkpoint: str):
        """Start the kind's streaming maintenance pass over arriving
        embeddings (columns ``vec_id``, ``v: array<double>``), writing a
        serving segment at ``segment_path``; the trained state (IVF
        centroids / PQ codebook / SQ8 limits) is loaded from THIS index,
        so callers never hand-carry the codebook. ``segment_path`` is a
        `generations.SegmentLog`, one segment per micro-batch: serve base
        + additions via ``search(additions_path=...)`` (IVF, HNSW) or by
        unioning ``SegmentLog(spark, segment_path).read()`` onto the
        codes table (flat kinds); ``compact`` folds them back in, the
        newest batch winning per vec_id. Returns the StreamingQuery
        (availableNow)."""
        if self.kind == "ivf":
            from event_store_spark.plans.ivf import load_ivf_index
            from event_store_spark.streaming.index import ivf_assign_stream

            centroids, _ = load_ivf_index(self.spark, self.path)
            return ivf_assign_stream(
                embeddings_stream, centroids, segment_path, checkpoint
            )
        if self.kind == "hnsw":
            # the segment layout is SHARED with IVF (cell-partitioned flat
            # rows): arriving vectors are cell-assigned map-side under the
            # graph's OWN centroids; search brute-forces the segment's
            # probed cells exactly until `compact` re-links them
            from event_store_spark.plans.hnsw import load_hnsw_index
            from event_store_spark.streaming.index import ivf_assign_stream

            centroids, _ = load_hnsw_index(self.spark, self.path)
            return ivf_assign_stream(
                embeddings_stream, centroids, segment_path, checkpoint
            )
        if self.kind == "pq":
            from event_store_spark.plans.pq import load_pq_index
            from event_store_spark.streaming.index import pq_encode_stream

            book, _ = load_pq_index(self.spark, self.path)
            return pq_encode_stream(
                embeddings_stream, book, segment_path, checkpoint
            )
        from event_store_spark.plans.pipeline5 import load_sq8_index
        from event_store_spark.streaming.index import sq8_encode_stream

        (mns, mxs), _ = load_sq8_index(self.spark, self.path)
        return sq8_encode_stream(
            embeddings_stream, mns, mxs, segment_path, checkpoint
        )

    def compact(self, additions_path: str) -> None:
        """Fold a streamed additions segment into the base: the IVF
        inverted file (`ivf_assign_stream` segment), the PQ codes table
        (`pq_encode_stream` segment), or the SQ8 codes table
        (`sq8_encode_stream` segment — valid since round 8's encoder
        quantizes under the FROZEN published limits) — all behind the
        same atomic pointer-flip publication with newest-wins collision
        handling. Moving the trained state itself (centroid retrain,
        codebook retrain, limits retrain) stays the periodic `build`."""
        if self.kind == "ivf":
            from event_store_spark.plans.ivf import compact_ivf_index

            compact_ivf_index(self.spark, self.path, additions_path)
        elif self.kind == "hnsw":
            from event_store_spark.plans.hnsw import compact_hnsw_index

            compact_hnsw_index(self.spark, self.path, additions_path)
        elif self.kind == "pq":
            from event_store_spark.plans.pq import compact_pq_index

            compact_pq_index(self.spark, self.path, additions_path)
        else:
            from event_store_spark.plans.pipeline5 import compact_sq8_index

            compact_sq8_index(self.spark, self.path, additions_path)
