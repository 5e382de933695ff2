"""Streaming vector-index maintenance: assign or encode arriving
embeddings map-side and append them as a live-additions segment log.

The batch builds (`plans/ivf.py`, `plans/pq.py`, `plans/pipeline5.py`)
train centroids, a codebook or per-dimension limits once; production
vector stores then keep the index CURRENT by assigning (IVF) or
encoding (PQ, SQ8) each newly ingested vector as it arrives. That work
is a pure map-side expression over broadcast trained state (the same
`_assign` / `_encode_expr` / `sq8_quantize` the batch builds use), so it
streams at ingest throughput with zero shuffle. Retraining on the grown
corpus stays a periodic batch job; these streams keep
ingest-to-searchable latency at micro-batch size in between — the
standard split (FAISS add vs. retrain, Lucene-style segment merge
policies) expressed Spark-first.

Layout: ``target_path`` is a `plans.generations.SegmentLog`, one
segment per micro-batch (IVF's partitioned by cell, which IS the
inverted-file layout: a search for cell c lists exactly ``cell=c/`` of
each segment), and the stream's `streaming.eos` ledger (``_LEDGER``)
commits after the segment; readers list no segment above it.
`streaming.eos` alone decides which batches
are already applied; a checkpoint the ledger has not seen raises (Spark's
own file sink would skip a new checkpoint's batch 0 as already
committed). Serve base + additions through ``load_ivf_index(...,
additions_path=...)`` or ``SegmentLog(spark, target_path).read()``; the
``compact_*_index`` functions fold the additions back in, newest batch
winning per vec_id (`SegmentLog.newest`).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from event_store_spark.plans.generations import SegmentLog
from event_store_spark.streaming import eos


def _additions(
    stream: DataFrame,
    encode: Callable[[DataFrame], DataFrame],
    target_path: str,
    checkpoint: str,
    partition_by: tuple[str, ...] = (),
):
    """Start an availableNow pass writing ``encode(batch)`` as each
    batch's segment of the log at ``target_path``."""
    log = SegmentLog(stream.sparkSession, target_path)

    def apply(df: DataFrame, batch_id: int, commit) -> None:
        log.write(batch_id, encode(df), partition_by)
        commit()

    return eos.start(stream, checkpoint, log.ledger, apply)


def ivf_assign_stream(
    embeddings_stream: DataFrame,
    centroids: list[tuple[int, list[float]]],
    target_path: str,
    checkpoint: str,
):
    """Assign every new embedding (columns ``vec_id``, ``v:
    array<double>``) to its nearest trained cell and append it,
    cell-partitioned, to the additions log. Returns the StreamingQuery."""
    from event_store_spark.plans.ivf import _assign

    return _additions(
        embeddings_stream,
        lambda df: _assign(df, centroids),
        target_path,
        checkpoint,
        ("cell",),
    )


def pq_encode_stream(
    embeddings_stream: DataFrame,
    codebook: list,
    target_path: str,
    checkpoint: str,
):
    """PQ twin of :func:`ivf_assign_stream`: encode arriving embeddings
    to their PQ codes (broadcast codebook argmin per subspace) and append
    the (vec_id, codes) rows. Codebook retraining stays a periodic batch
    job, exactly the IVF split. Returns the StreamingQuery."""
    from event_store_spark.plans.pq import _encode_expr

    return _additions(
        embeddings_stream,
        lambda df: df.select(
            "vec_id", _encode_expr(F.col("v"), codebook).alias("codes")
        ),
        target_path,
        checkpoint,
    )


def sq8_encode_stream(
    embeddings_stream: DataFrame,
    mns: list[float],
    mxs: list[float],
    target_path: str,
    checkpoint: str,
):
    """SQ8 twin of :func:`ivf_assign_stream` (VERDICT r7 #8): quantize
    arriving embeddings under the FROZEN per-dimension limits (the
    `pipeline5.sq8_quantize` expression the batch save uses) and append
    the (vec_id, q) rows. Components outside the trained [mn, mx] range
    saturate to the code ends — the honest behavior of serving new data
    under old limits; a limits retrain (which re-encodes everything)
    stays a periodic batch job. Returns the StreamingQuery."""
    from event_store_spark.plans.pipeline5 import sq8_quantize

    return _additions(
        embeddings_stream,
        lambda df: sq8_quantize(df, mns, mxs),
        target_path,
        checkpoint,
    )
