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


from weakref import WeakKeyDictionary

#: Composed-report plan memo (weak session key, the _TYPED_MEMO shape).
#: Building the seven-subtree union costs ~1.3 s of py4j round-trips —
#: 60% of the report's steady-state wall-clock (VERDICT r7 #4) — and the
#: composition is deterministic per (session, sf_dir), so the LAZY
#: DataFrame is built once and every hit returns a fresh `select("*")`
#: over it. No results are cached; every call re-runs the plan.
_REPORT_MEMO: "WeakKeyDictionary[SparkSession, dict[str, DataFrame]]" = (
    WeakKeyDictionary()
)


@register("ann_recall_report", oracle=_recall_oracle())
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 per ANN method against the exact cosine top-5 (q33).

    The union evaluates seven embedding subtrees in ONE job; seeding the
    session's shared cached embeddings scan first means each subtree
    reads the corpus from storage once total instead of once per method
    (VERDICT r7 #4 — the report is the only seeder; standalone queries
    keep their pushdown-friendly parquet scans)."""
    from event_store_spark.plans.llm import _EMB_MEMO, share_embeddings

    memo = _REPORT_MEMO.setdefault(spark, {})
    got = memo.get(sf_dir)
    if got is not None:
        # a fresh QueryExecution per call: handing back the executed
        # object would let its second collect() reuse the first run's
        # materialized AQE shuffle stages (cross-call result reuse)
        return got.select("*")

    # the share is scoped to THIS composition: subtrees built inside the
    # try capture the shared scan; the finally un-seeds the memo AND
    # unpersists (Spark's CacheManager substitutes a cached relation into
    # ANY later plan matching its logical plan, so a still-persisted
    # table would silently swap every subsequent embedding query's pruned
    # parquet scan for the full-width cache — column pruning lost; the
    # plan-shape suite pins dedup_embedding's pruned scan). The report's
    # steady-state speed comes from the PLAN memo; executing the memoized
    # plan re-reads the small scan either way.
    shared = share_embeddings(spark, sf_dir)
    try:
        return _compose_report(spark, sf_dir, memo)
    finally:
        _EMB_MEMO.setdefault(spark, {}).pop(sf_dir, None)
        shared.unpersist()


def _compose_report(
    spark: SparkSession, sf_dir: str, memo: dict
) -> DataFrame:
    exact = QUERIES[_EXACT](spark, sf_dir).select("vec_id")
    tagged = None
    for label, q in sorted(ANN_METHODS.items()):
        part = QUERIES[q](spark, sf_dir).select(
            F.lit(label).alias("method"), "vec_id"
        )
        tagged = part if tagged is None else tagged.unionAll(part)
    hit = F.broadcast(exact.withColumn("_hit", F.lit(1)))
    report = (
        tagged.join(hit, "vec_id", "left")
        .groupBy("method")
        .agg(
            F.count("_hit").alias("hits"),
            F.round(F.count("_hit") / 5.0, 2).alias("recall_at_5"),
        )
        .orderBy("method")
    )
    memo[sf_dir] = report
    return report
