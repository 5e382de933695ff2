"""ANN evaluation harness: recall@5 of every approximate index against
the exact cosine top-5.

A vector store is only as good as its measured recall — this query is
the evaluation report a retrieval pipeline runs after (re)building its
indexes: for each ANN variant (hyperplane LSH, multi-probe LSH, k-means
IVF, int8 scalar quantization, PQ-ADC, IVFADC) it reports how many of
the exact top-5 neighbors the approximate search returned. Everything
is deterministic, so the numbers are oracle-hash-checked — a recall
regression (e.g. an index build change that silently degrades pruning)
fails the driver's correctness gate, not just a dashboard.

COMPOSED, NOT COPIED: both sides reuse the registered artifacts — the
Spark side calls the registered query callables (hitting the memoized
index builds), and the oracle SQL embeds the exact oracle strings of
those same queries as derived tables (`SELECT ... FROM (WITH ... )` —
DuckDB scopes nested CTEs to the subquery). A change to any ANN query
or its oracle flows into this report automatically; hand-copied CTE
chains would drift.

Scale: the report costs one O(k)-row join per method over the already-
built indexes — evaluation is free once the indexes exist; at 100 TB
you run it over a sampled query SET (each query's exact top-k computed
once on the sample) with the identical plan per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_store_spark.plans.registry import ORACLE, QUERIES, register

#: method label → registered query whose top-5 ids to score
ANN_METHODS = {
    "hnsw": "ann_hnsw_topk",
    "hnsw_spilled": "ann_hnsw_spilled_topk",
    "ivf": "ann_ivf_topk",
    "ivf_spilled": "ann_ivf_spilled_topk",
    "ivfpq": "ann_ivfpq_topk",
    "lsh": "ann_lsh_topk",
    "multiprobe": "ann_multiprobe_topk",
    "pq": "ann_pq_topk",
    "sq8": "ann_sq8_topk",
}
_EXACT = "q33"  # brute-force exact cosine top-5


def _recall_oracle() -> str:
    union = "\n        UNION ALL ".join(
        f"SELECT '{label}' AS method, vec_id FROM ({ORACLE[q]})"
        for label, q in sorted(ANN_METHODS.items())
    )
    return f"""
    WITH exact AS (SELECT vec_id FROM ({ORACLE[_EXACT]})),
    approx AS ({union})
    SELECT a.method, COUNT(e.vec_id) AS hits,
           ROUND(COUNT(e.vec_id) / 5.0, 2) AS recall_at_5
    FROM approx a LEFT JOIN exact e USING (vec_id)
    GROUP BY a.method ORDER BY a.method
    """


@register("ann_recall_report", oracle=_recall_oracle())
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 per ANN method against the exact cosine top-5 (q33): one
    union of the methods' registered plans, evaluated in ONE job over the
    memoized index builds."""
    return _compose_report(spark, sf_dir)


def _compose_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = QUERIES[_EXACT](spark, sf_dir).select("vec_id")
    tagged = None
    for label, q in sorted(ANN_METHODS.items()):
        part = QUERIES[q](spark, sf_dir).select(
            F.lit(label).alias("method"), "vec_id"
        )
        tagged = part if tagged is None else tagged.unionAll(part)
    hit = F.broadcast(exact.withColumn("_hit", F.lit(1)))
    return (
        tagged.join(hit, "vec_id", "left")
        .groupBy("method")
        .agg(
            F.count("_hit").alias("hits"),
            F.round(F.count("_hit") / 5.0, 2).alias("recall_at_5"),
        )
        .orderBy("method")
    )
