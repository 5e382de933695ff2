"""Final-sort idioms for driver-bound results (guide §2.4: remove
exchanges outright).

A query whose LAST operator is a global ORDER BY pays Spark's full
distributed-sort machinery per run: a boundary-sampling pass over the
child plus an `Exchange rangepartitioning` — two extra scheduler
round-trips (measured ~0.15-0.25 s at the local job floor, and two more
AQE stage materializations on a cluster) to range-partition rows that
are about to be collect()ed anyway. When the result is bounded by a
CATALOG dimension (event types, languages, sources, calendar buckets,
top-k heads), sorting the merged result on one partition emits the
identical row order — both forms are total sorts under the same keys —
without the sampling pass or the range exchange.

Measured at sf0.1 (idle box, 7-rep medians, 5-group aggregate over the
hot events projection): agg+orderBy 0.286 s / 4 jobs; agg+coalesce(1)+
sortWithinPartitions 0.164 s / 2 jobs; window+agg+orderBy 0.679 s vs
0.429 s merged. At 100 TB the aggregate outputs these helpers are
applied to are the SAME size (a catalog is corpus-independent), so the
single merged partition stays metadata-sized; corpus-sized results must
keep a distributed orderBy and are deliberately not routed here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def catalog_sort(df: DataFrame, *cols) -> DataFrame:
    """Sort a catalog-bounded AGGREGATE result on one merged partition.

    ``coalesce(1)`` is a narrow dependency: it fuses into the
    aggregate's final stage, so only the post-shuffle merge of
    catalog-bounded groups runs single-task; every stage upstream of the
    aggregate's exchange keeps its width. Apply ONLY where the sort's
    child is shuffle-backed (aggregate/distinct/set-op output) and its
    row count is catalog-bounded; a coalesce over a scan- or
    join-parented child would serialize the whole upstream stage — use
    :func:`filtered_sort` there.
    """
    return df.coalesce(1).sortWithinPartitions(*cols)


def filtered_sort(df: DataFrame, *cols) -> DataFrame:
    """Sort a small FILTERED/window-derived result via one
    single-partition exchange.

    ``repartition(1)`` keeps the (possibly corpus-sized) parent stage at
    full width — unlike coalesce, which would fuse into and serialize
    it — and costs one round-robin exchange of just the surviving rows,
    instead of orderBy's boundary-sampling pass plus range exchange.
    Kept only where it measured a first-call win over ``orderBy`` at
    sf0.1 on 4 vCPU (10 of 10 pairs, e.g. q44 0.09 vs 0.13 s); the sites
    where it did not (q15, q59, sample_weighted_stratified) use
    ``orderBy``.
    """
    return df.repartition(1).sortWithinPartitions(*cols)
