"""Graph-analytics queries: PageRank over the event-type transition graph.

The reference engine has no graph surface (SURVEY §2) — the repo's graph
operators belong to the analytics/LLM-pipeline family: duplicate-cluster
resolution uses `operators.graph.connected_components`, and the
link-importance query below ranks the nodes of a weighted directed graph
the way a crawl-frontier or source-prioritization pass ranks domains by
citation structure.

Determinism contract: PageRank runs a FIXED number of synchronous power
steps (`operators.graph.pagerank`), so the oracle is the same recurrence
unrolled into chained CTEs — identical IEEE products on both engines,
differing only in summation order, which the `FLOOR(ROUND(rank*1e8, 4))`
band absorbs (the registry's standard float-band idiom). The teleport term
is written as the SAME float expression `(1.0 - 0.85)` on both sides so
both engines evaluate the identical double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from event_store_spark.plans.finalsort import catalog_sort
from event_store_spark.plans.registry import register
from event_store_spark.tables import load_table, memo

#: fixed power-step count for the registered query — a production caller
#: loops on the L1 delta between successive outputs instead (operator
#: docstring)
PR_ITERATIONS = 4
PR_DAMPING = 0.85
#: pagerank_events folds its power steps on the driver while the
#: transition EDGE table (O(#event_types²) — a type-vocabulary catalog)
#: fits comfortably in driver memory; past this it falls back to the
#: distributed `operators.graph.pagerank`
PR_DRIVER_EDGE_MAX = 200_000


def _pagerank_oracle() -> str:
    """Unrolled weighted power iteration as chained CTEs (DuckDB).

    Mirrors `operators.graph.pagerank` term for term: uniform start,
    out-weight row normalization, uniform redistribution of dangling mass
    (nodes with no outgoing transitions — the scalar subquery evaluates to
    0 when none exist, and adding +0.0 is an IEEE no-op, so the SQL stays
    valid whether or not the engine takes its dangling branch).
    """
    sql = f"""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events),
    t AS (SELECT prev_type AS src, event_type AS dst, COUNT(*) AS wt
          FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
    n AS (SELECT src AS node FROM t UNION SELECT dst FROM t),
    nn AS (SELECT COUNT(*) AS c FROM n),
    deg AS (SELECT src, SUM(CAST(wt AS DOUBLE)) AS d FROM t GROUP BY src),
    ew AS (SELECT t.src, t.dst, CAST(t.wt AS DOUBLE) / deg.d AS w
           FROM t JOIN deg USING (src)),
    dang AS (SELECT node FROM n
             WHERE node NOT IN (SELECT src FROM t)),
    r0 AS (SELECT node, 1.0 / (SELECT c FROM nn) AS rank FROM n)"""
    for i in range(1, PR_ITERATIONS + 1):
        sql += f""",
    r{i} AS (SELECT n.node,
                    (1.0 - {PR_DAMPING}) / (SELECT c FROM nn)
                    + {PR_DAMPING} * (COALESCE(s.s, 0)
                        + (SELECT COALESCE(SUM(r.rank), 0)
                           FROM r{i - 1} r JOIN dang USING (node))
                          / (SELECT c FROM nn)) AS rank
             FROM n LEFT JOIN (
                 SELECT ew.dst AS node, SUM(r{i - 1}.rank * ew.w) AS s
                 FROM ew JOIN r{i - 1} ON ew.src = r{i - 1}.node
                 GROUP BY ew.dst) s USING (node))"""
    sql += f"""
    SELECT node, CAST(FLOOR(ROUND(rank * 100000000, 4)) AS BIGINT) AS rank_e8
    FROM r{PR_ITERATIONS}
    ORDER BY rank_e8 DESC, node"""
    return sql


#: neighbors kept per vector in the kNN graph
KNN_K = 3
#: output truncation (the graph itself is O(n·k); the registered query
#: pins the head of it deterministically)
KNN_OUT = 60

#: triangle_count physical pick: broadcast both adjacency probes while the
#: oriented edge list fits the per-executor broadcast budget. Sizing
#: (ADVICE r11): node ids are BIGINT (8 B/element, not 4), and BOTH `au`
#: and `av` HashedRelations are resident simultaneously — 2 copies ×
#: (8 B key + 8 B value + ~2-3× HashedRelation overhead) ≈ 60-80 B/edge
#: total, so 200 M edges is ~3-4 GB per relation, safely under Spark's
#: hard 8 GB per-broadcast cap with headroom for the degree dims; beyond
#: it the plan falls back to the shuffle-hash exchange form
TRIANGLE_BROADCAST_EDGES = 200_000_000

_COS_SIM_SQL = """list_sum(list_transform(range(1, len(a.embedding) + 1),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
            i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))"""

#: the ranked-kNN CTE prefix (params → bucketed → pairs → `r` with pos),
#: shared by knn_graph and label_propagation_knn so the bucketing and
#: ranking scheme is edited in ONE place (the MINHASH_CAND_CTE pattern)
_KNN_RANKED_CTE = f"""params AS (
        SELECT GREATEST(4, CAST(CEIL(LOG2(COUNT(*) / 64.0)) AS INT)) AS planes
        FROM embeddings),
    bucketed AS (SELECT vec_id, embedding,
        array_to_string(list_transform(range(0, planes), p ->
            CASE WHEN p < 4
                 THEN (CASE WHEN embedding[16*p + 1] >= embedding[16*p + 9]
                            THEN '1' ELSE '0' END)
                 ELSE (CASE WHEN embedding[(11*p) % 64 + 1]
                                 >= embedding[(11*p + 7) % 64 + 1]
                            THEN '1' ELSE '0' END)
            END), '') AS bucket
        FROM embeddings, params),
    p AS (SELECT a.vec_id AS vec_id, b.vec_id AS nbr,
                 {_COS_SIM_SQL} AS sim
          FROM bucketed a JOIN bucketed b
            ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
    r AS (SELECT vec_id, nbr, sim,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                                    ORDER BY sim DESC, nbr) AS pos
          FROM p)"""


def _knn_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, nbr, pos, sim) — every in-bucket pair ranked per vector.

    The Spark-side twin of `_KNN_RANKED_CTE`; `knn_graph` truncates and
    rounds it for display, `label_propagation_knn` consumes the top-K
    rows as influence edges. Memoized + cached per (session, sf_dir) —
    a kNN graph is built once and persisted in production (the
    MinHash-signature / IVF-centroid cost model), and the build is
    deterministic (fixed hyperplanes, total-ordered ranks), so reuse
    cannot change results; each consumer was re-running the bucketed
    pair join + rank window otherwise (2×~0.9 s of the two graph
    queries' bench time at sf0.1)."""

    def build():
        from event_store_spark.functions.vectors import as_double, dot, norm
        from event_store_spark.plans.llm import adaptive_planes, hyperplane_bucket

        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", as_double("embedding").alias("v")
        )
        planes = adaptive_planes(emb.count())
        emb = emb.withColumn("bucket", hyperplane_bucket(F.col("v"), planes))
        emb = emb.withColumn("nrm", norm(F.col("v")))
        a, b = emb.alias("a"), emb.alias("b")
        sim = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
        pairs = a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        ).select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("nbr"),
            sim.alias("sim"),
        )
        w = W.partitionBy("vec_id").orderBy(F.col("sim").desc(), "nbr")
        # coalesce-before-cache: see tokenized.source_gram_masks
        return (
            pairs.withColumn("pos", F.row_number().over(w))
            .coalesce(spark.sparkContext.defaultParallelism)
            .cache()
        )

    return memo(spark, (_knn_ranked, sf_dir), build)


@register(
    "knn_graph",
    oracle=f"""
    WITH {_KNN_RANKED_CTE}
    SELECT vec_id, pos, nbr, ROUND(sim, 4) AS sim
    FROM r WHERE pos <= {KNN_K}
    ORDER BY vec_id, pos LIMIT {KNN_OUT}
    """,
)
def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-graph construction over the embedding corpus: each vector's top-3
    cosine neighbors WITHIN its hyperplane-LSH bucket (the candidate graph
    that feeds near-dup clustering, diversity sampling, and label
    propagation — `connected_components` and `pagerank` both consume
    exactly this edge shape).

    Plan: adaptive-plane sign bucketing (`adaptive_planes`, shared with
    dedup_embedding so bucket occupancy tracks the corpus), ONE bucket
    equi-self-join — pair enumeration bounded by the largest bucket — then
    a per-vector ROW_NUMBER window that runs WITHIN the same shuffle's
    key-space (vec_id is a prefix of no key here, so one extra exchange of
    (vec_id, nbr, sim) triples only). Similarities are sequential JVM
    folds (`functions.vectors.dot`) — bit-identical to the oracle's
    list_sum order, so neighbor RANKS match exactly, not just rounded
    values; the numpy/BLAS path trades that exactness for speed and is the
    wrong choice where rank positions are the output.

    At 100 TB: occupancy is held near DEDUP_TARGET_BUCKET by plane growth,
    the pair join never leaves a bucket, and the window partitions by
    vec_id — no global sort anywhere except the final LIMIT head.
    """
    return (
        _knn_ranked(spark, sf_dir)
        .where(F.col("pos") <= KNN_K)
        .select("vec_id", "pos", "nbr", F.round("sim", 4).alias("sim"))
        .orderBy("vec_id", "pos")
        .limit(KNN_OUT)
    )


#: GEMM candidate width for knn_graph_blas: the exact re-rank keeps the
#: top KNN_K of these, so the approx selection only has to be right about
#: WHICH vectors can reach rank 3, not their order. Reassociation error of
#: a 64-term double dot is ~1e-14; two sims must differ by less AND
#: straddle the candidate boundary (rank 8 vs 9) for the set to be wrong.
KNN_BLAS_CAND = KNN_K + 5


def _knn_blas_bucket_topk(pdf):
    """Per-bucket top-K: BLAS GEMM selects KNN_BLAS_CAND candidates per
    vector, then a vectorized per-dimension accumulation loop recomputes
    their similarities in EXACTLY the engine's fold order —
    acc = (acc + a_d * b_d) left-to-right, sim = dot / (nrm_a * nrm_b) —
    so the emitted values and ranks are bit-identical to
    `functions.vectors.dot` (and therefore to `knn_graph`)."""
    import numpy as np
    import pandas as pd

    cols = ["vec_id", "pos", "nbr", "sim"]
    n = len(pdf)
    if n < 2:
        return pd.DataFrame(columns=cols)
    ids = pdf["vec_id"].to_numpy()
    X = np.stack(pdf["v"].to_numpy()).astype(np.float64, copy=False)
    d = X.shape[1]

    # exact norms, same fold order as norm() = sqrt(dot(a, a))
    accn = np.zeros(n)
    for dd in range(d):
        accn = accn + X[:, dd] * X[:, dd]
    nrm = np.sqrt(accn)

    # approximate similarity matrix for candidate SELECTION only
    Xn = X / nrm[:, None]
    S = Xn @ Xn.T
    np.fill_diagonal(S, -np.inf)
    c = min(KNN_BLAS_CAND, n - 1)
    # candidate selection must honor the (sim DESC, nbr ASC) rank rule even
    # under EXACT ties (duplicate embeddings yield bitwise-equal GEMM rows):
    # if more than c sims tie at the boundary, an unrefined argpartition
    # would keep an arbitrary subset, possibly excluding the low nbr ids
    # the exact re-rank (and the fold plan) would rank first. Bulk cut with
    # O(n) argpartition per row; ONLY rows whose boundary value also occurs
    # outside the kept set get a full (-sim, nbr) lexsort — ties at the cut
    # are rare, so the O(n log n) refinement almost never runs (ADVICE r10:
    # the unconditional full-matrix lexsort was an O(n^2 log n) hot path).
    idx = np.argpartition(-S, c - 1, axis=1)[:, :c]  # (n, c), unordered
    kept = np.take_along_axis(S, idx, axis=1)
    bvals = kept.min(axis=1)  # c-th largest sim per row
    straddles = (S == bvals[:, None]).sum(axis=1) > (
        kept == bvals[:, None]
    ).sum(axis=1)
    for r in np.nonzero(straddles)[0]:
        idx[r] = np.lexsort((ids, -S[r]))[:c]

    # exact re-rank: left-to-right fold over the candidate pairs
    B = X[idx]  # (n, c, d)
    acc = np.zeros((n, c))
    for dd in range(d):
        acc = acc + X[:, dd : dd + 1] * B[:, :, dd]
    sims = acc / (nrm[:, None] * nrm[idx])
    nbrs = ids[idx]

    # rank by (sim DESC, nbr ASC): stable argsort by nbr, then by -sim
    ord1 = np.argsort(nbrs, axis=1, kind="stable")
    sims1 = np.take_along_axis(sims, ord1, axis=1)
    ord2 = np.argsort(-sims1, axis=1, kind="stable")
    order = np.take_along_axis(ord1, ord2, axis=1)

    k = min(KNN_K, c)
    sel = order[:, :k]
    return pd.DataFrame(
        {
            "vec_id": np.repeat(ids, k),
            "pos": np.tile(np.arange(1, k + 1, dtype=np.int32), n),
            "nbr": np.take_along_axis(nbrs, sel, axis=1).ravel(),
            "sim": np.take_along_axis(sims, sel, axis=1).ravel(),
        }
    )


def _knn_topk_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, pos, nbr, sim) top-KNN_K rows via the GEMM/exact-re-rank
    kernel — bit-identical to `_knn_ranked(...).where(pos <= KNN_K)`
    (pinned by tests/test_knn_blas.py). Memoized + cached alongside
    `_knn_ranked`; consumers that only need the
    top-K edge set (knn_graph_blas, label_propagation_knn) come through
    here so the pair enumeration is GEMM-priced, not fold-priced."""

    def build():
        from event_store_spark.functions.vectors import as_double
        from event_store_spark.plans.llm import adaptive_planes, hyperplane_bucket

        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", as_double("embedding").alias("v")
        )
        planes = adaptive_planes(emb.count())
        emb = emb.withColumn("bucket", hyperplane_bucket(F.col("v"), planes))
        return (
            emb.groupBy("bucket")
            .applyInPandas(
                _knn_blas_bucket_topk,
                "vec_id bigint, pos int, nbr bigint, sim double",
            )
            # narrow before caching (see tokenized.source_gram_masks): the
            # grouped-map stage caches at the full 8×cores shuffle width and
            # label_propagation_knn re-scans this table several times per run
            .coalesce(spark.sparkContext.defaultParallelism)
            .cache()
        )

    return memo(spark, (_knn_topk_blas, sf_dir), build)


@register(
    "knn_graph_blas",
    oracle=f"""
    WITH {_KNN_RANKED_CTE}
    SELECT vec_id, pos, nbr, ROUND(sim, 4) AS sim
    FROM r WHERE pos <= {KNN_K}
    ORDER BY vec_id, pos LIMIT {KNN_OUT}
    """,
)
def knn_graph_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`knn_graph`'s scale twin: identical output (same oracle), but the
    in-bucket pair similarities run as ONE BLAS GEMM per bucket inside an
    Arrow `applyInPandas` task instead of an interpreted Catalyst fold
    per pair.

    Why a twin exists: `knn_graph`'s docstring rejects the BLAS path
    because reassociated summation can flip RANKS between near-equal
    sims. This plan removes that hazard with a select-then-verify split:
    the GEMM only nominates KNN_BLAS_CAND (= K+5) candidates per vector,
    and a vectorized per-dimension loop then recomputes those candidates'
    similarities in the engine's exact fold order (IEEE ops, identical
    operand sequence → bit-identical doubles), so the final top-K ranks
    equal the fold plan's exactly — `tests/test_knn_blas.py` pins
    row-for-row equality with `knn_graph` and forced-small-candidate
    agreement. 100×: 38.1 s (fold) → GEMM amortizes the O(occupancy²·d)
    flops the interpreted expression paid per element.

    At 100 TB: same bucketing/shuffle shape as `knn_graph` (one exchange
    on bucket); per-task memory is O(occupancy²) for the bucket GEMM,
    bounded because `adaptive_planes` holds occupancy near
    DEDUP_TARGET_BUCKET. The exact re-rank touches only n·(K+5) pairs.
    """
    return (
        _knn_topk_blas(spark, sf_dir)
        .select("vec_id", "pos", "nbr", F.round("sim", 4).alias("sim"))
        .orderBy("vec_id", "pos")
        .limit(KNN_OUT)
    )


@register("pagerank_events", oracle=_pagerank_oracle())
def pagerank_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event types ranked by weighted PageRank over the user-journey
    transition graph (every consecutive event pair per user is a directed
    edge, weighted by its frequency — the same edge table
    `event_transitions` reports as a matrix).

    The stationary-importance view of the behavioral graph: an event type
    is central if frequent transitions arrive from other central types —
    first-order counts can't distinguish a type reached from everywhere
    from one reached only via a single hub.

    Plan: ONE shuffle on user_id for the LAG window builds the weighted
    edge list (distributed — this is the corpus-sized part); the power
    steps then fold on the DRIVER over the collected O(#types²) edge
    table behind the PR_DRIVER_EDGE_MAX vocabulary guard (r12 — see the
    inline note), falling back to `operators.graph.pagerank` past it.
    `tests/test_pagerank.py` pins the operator against a NumPy
    power-iteration reference including dangling redistribution,
    exercises the million-edge bipartite ship graph, and pins the
    query's driver fold row-for-row against the distributed operator.
    """
    from event_store_spark.tables import hot_table

    # pinned hot events projection (the r11 sub-second-tail lever —
    # every other events-window query already routes through it)
    ev = hot_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    edges = seq.groupBy(
        F.col("prev_type").alias("src"),
        F.col("event_type").alias("dst"),
    ).agg(F.count(F.lit(1)).alias("weight"))
    # r12: the power iterations fold on the DRIVER when the transition
    # graph is small enough to collect — it is O(#event_types²) rows, a
    # type-vocabulary catalog, not corpus-sized (the mad_outliers /
    # k-centroids bounded-driver-fold discipline). The distributed
    # operator spent ~1.3 s at sf0.1 on the sequential-job floor of
    # 4 power steps (broadcast builds + aggregates per step) whose total
    # data is a few hundred rows; the driver fold is one collect + one
    # createDataFrame. Everything corpus-sized (the user_id window, the
    # edge aggregation) stays distributed, and past the guard the plan
    # falls back to `operators.graph.pagerank` unchanged. The final
    # rounding projection stays IN SPARK, so the emitted expression —
    # and therefore the oracle-checked values — are identical; the fold
    # mirrors the operator term for term (uniform start, out-weight
    # normalization, uniform dangling redistribution), pinned against it
    # by tests/test_pagerank.py::test_query_driver_fold_matches_operator.
    # the guard bounds the COLLECT itself (ADVICE r12): limit(MAX+1) can
    # return at most MAX+1 rows to the driver, so an over-limit type
    # catalog costs one truncated fetch — never an unbounded collect —
    # before the distributed fallback runs. coalesce(1) narrows only the
    # final merge of the (type-catalog-sized) edge aggregate, so the
    # CollectLimit probe is ONE job instead of the multi-round
    # scale-up ladder over 8×cores post-agg partitions (measured 0.4 s
    # → 0.05 s at sf0.1).
    edge_rows = edges.coalesce(1).limit(PR_DRIVER_EDGE_MAX + 1).collect()
    if len(edge_rows) <= PR_DRIVER_EDGE_MAX:
        import numpy as np

        nodes = sorted(
            {r["src"] for r in edge_rows} | {r["dst"] for r in edge_rows}
        )
        idx = {n: i for i, n in enumerate(nodes)}
        n = len(nodes)
        out_w = np.zeros(n)
        for r in edge_rows:
            out_w[idx[r["src"]]] += float(r["weight"])
        src_i = np.array([idx[r["src"]] for r in edge_rows], dtype=np.int64)
        dst_i = np.array([idx[r["dst"]] for r in edge_rows], dtype=np.int64)
        wt = np.array([float(r["weight"]) for r in edge_rows]) / out_w[src_i]
        dangling = out_w == 0.0
        r_vec = np.full(n, 1.0 / n)
        for _ in range(PR_ITERATIONS):
            dm = float(r_vec[dangling].sum())
            contrib = np.zeros(n)
            np.add.at(contrib, dst_i, r_vec[src_i] * wt)
            r_vec = (1.0 - PR_DAMPING) / n + PR_DAMPING * (
                contrib + dm / n
            )
        # the folded vector re-enters Spark as ONE spliced SQL literal
        # array (a JVM LocalRelation), NOT createDataFrame: the rows
        # path parallelizes through defaultParallelism PYTHON-pickled
        # partitions, and any downstream single-partition read then
        # pays one Python-worker round trip PER partition (~0.16 s × 32
        # measured — 5 s for a 5-row result). repr() doubles round-trip
        # exactly (shortest-decimal → nearest-double on parse), so the
        # rank values are bit-identical to the numpy fold's.
        def _q(s: str) -> str:
            return s.replace("\\", "\\\\").replace("'", "\\'")

        ranks_sql = "array({})".format(
            ", ".join(
                f"struct('{_q(nodes[i])}' AS node, "
                f"CAST('{float(r_vec[i])!r}' AS DOUBLE) AS rank)"
                for i in range(n)
            )
        )
        ranks = (
            spark.range(1)
            .select(F.explode(F.expr(ranks_sql)).alias("r"))
            .select("r.*")
        )
    else:  # pragma: no cover - beyond the vocabulary guard
        from event_store_spark.operators.graph import pagerank

        ranks = pagerank(
            edges.localCheckpoint(eager=True),
            damping=PR_DAMPING,
            iterations=PR_ITERATIONS,
            checkpoint_every=PR_ITERATIONS,
        )
    return (
        ranks.select(
            "node",
            F.floor(F.round(F.col("rank") * F.lit(100000000.0), 4))
            .cast("bigint")
            .alias("rank_e8"),
        )
        # event-TYPE catalog rows: merged sort, no range exchange
        .transform(lambda d: catalog_sort(d, F.col("rank_e8").desc(), "node"))
    )


#: label-propagation rounds for the registered query (fixed → oracle-able)
LP_ROUNDS = 2
#: deterministic seed rule: every 5th vector keeps its true label
LP_SEED_MOD = 5


def _label_prop_oracle() -> str:
    """Unrolled clamped majority-vote rounds over the kNN edges (DuckDB).

    Mirrors `operators.graph.label_propagation` exactly — integer votes,
    smallest-label tie-break, seeds clamped — composed onto the shared
    `_KNN_RANKED_CTE`. All-integer state means EXACT cross-engine parity,
    no float banding anywhere.
    """
    sql = f"""
    WITH {_KNN_RANKED_CTE},
    e AS (SELECT nbr AS src, vec_id AS dst FROM r WHERE pos <= {KNN_K}),
    base AS (SELECT vec_id AS node,
                    CASE WHEN vec_id % {LP_SEED_MOD} = 0
                         THEN CAST(label AS VARCHAR) END AS seed_label,
                    CAST(label AS VARCHAR) AS true_label
             FROM embeddings),
    l0 AS (SELECT node, seed_label AS label FROM base)"""
    for i in range(1, LP_ROUNDS + 1):
        sql += f""",
    l{i} AS (SELECT b.node, COALESCE(b.seed_label, w.lab) AS label
             FROM base b LEFT JOIN (
                 SELECT dst AS node, lab FROM (
                     SELECT e.dst, l.label AS lab,
                            ROW_NUMBER() OVER (PARTITION BY e.dst
                                ORDER BY COUNT(*) DESC, l.label) AS rn
                     FROM e JOIN l{i - 1} l ON e.src = l.node
                     WHERE l.label IS NOT NULL
                     GROUP BY e.dst, l.label) WHERE rn = 1) w
             USING (node))"""
    sql += f"""
    SELECT COALESCE(l.label, '(unlabeled)') AS label,
           COUNT(*) AS n_nodes,
           CAST(SUM(CASE WHEN l.label = b.true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matching
    FROM l{LP_ROUNDS} l JOIN base b USING (node)
    GROUP BY 1 ORDER BY 1"""
    return sql


@register("label_propagation_knn", oracle=_label_prop_oracle())
def label_propagation_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak supervision over the embedding corpus: clamp every 5th vector
    to its true label, spread labels along the kNN graph for 2 clamped
    majority-vote rounds, and report the per-label assignment count plus
    how many propagated assignments agree with the held-back truth — the
    label-spreading quality report a semi-supervised labeling pipeline
    emits before training on the propagated labels.

    Plan: the shared `_knn_topk_blas` build (bucketed GEMM select +
    exact-fold re-rank, bit-identical to `_knn_ranked`'s top-K rows)
    emits the influence edges. With LP_ROUNDS (2) at or below
    `label_propagation`'s ``checkpoint_every``, the operator takes its
    pure lazy path: no checkpoint and no cache, so the whole query is
    one lazy plan. Each round is one labeled-edge join,
    ONE `mode(label, deterministic=true)` aggregate per dst (majority,
    ties to the smallest label) and one left join under the clamped
    seeds (see `operators.graph.label_propagation`). All state is
    integers and label strings — EXACT oracle parity, no float banding.
    """
    from event_store_spark.operators.graph import label_propagation

    edges = _knn_topk_blas(spark, sf_dir).select(
        F.col("nbr").alias("src"), F.col("vec_id").alias("dst")
    )
    # labels travel as strings (the fixture column is numeric; a real
    # weak-supervision label is categorical) — the smallest-label
    # tie-break is then plain lexicographic order on both engines
    truth = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("node"),
        F.col("label").cast("string").alias("true_label"),
    )
    nodes = truth.select(
        "node",
        F.when(
            F.col("node") % LP_SEED_MOD == 0, F.col("true_label")
        ).alias("label"),
    )
    final = label_propagation(nodes, edges, rounds=LP_ROUNDS)
    return (
        final.join(truth, "node")
        .groupBy(
            F.coalesce(F.col("label"), F.lit("(unlabeled)")).alias("label")
        )
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(
                F.when(F.col("label") == F.col("true_label"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_matching"),
        )
        .transform(lambda d: catalog_sort(d, "label"))
    )


@register(
    "triangle_count",
    oracle="""
    WITH pairs AS (SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
                   FROM lineitem a JOIN lineitem b
                     ON a.l_orderkey = b.l_orderkey
                    AND a.l_partkey < b.l_partkey),
    nodes AS (SELECT p1 AS p FROM pairs UNION SELECT p2 FROM pairs),
    deg AS (SELECT p, COUNT(*) AS d
            FROM (SELECT p1 AS p FROM pairs UNION ALL SELECT p2 FROM pairs)
            GROUP BY p),
    oriented AS (SELECT CASE WHEN (d1.d, e.p1) < (d2.d, e.p2)
                             THEN e.p1 ELSE e.p2 END AS src,
                        CASE WHEN (d1.d, e.p1) < (d2.d, e.p2)
                             THEN e.p2 ELSE e.p1 END AS dst
                 FROM pairs e
                 JOIN deg d1 ON d1.p = e.p1
                 JOIN deg d2 ON d2.p = e.p2),
    tri AS (SELECT COUNT(*) AS n
            FROM oriented o1
            JOIN oriented o2 ON o2.src = o1.dst
            JOIN oriented o3 ON o3.src = o1.src AND o3.dst = o2.dst)
    SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
           (SELECT COUNT(*) FROM pairs) AS n_edges,
           tri.n AS n_triangles
    FROM tri
    """,
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the part co-purchase graph (parts sharing an order),
    counted with the degree-ordered orientation — THE distributed
    triangle algorithm (Suri & Vassilvitskii's MapReduce formulation).

    Edge construction is a WITHIN-ORDER self-join: the equi key is
    l_orderkey, so pair enumeration is bounded by order size (TPC-H
    orders hold ≤ 7 lines) — never a global part×part product. Each
    undirected edge is then oriented from its lower-(degree, id) endpoint
    to the higher: every triangle is counted exactly once, and — the
    scale property — out-degrees in the oriented graph are O(sqrt(|E|)),
    so per-node neighbor sets are bounded regardless of skew; a
    celebrity part with millions of co-purchases contributes only
    through its (few) higher-degree peers.

    Counting runs as ADJACENCY-SET INTERSECTION, not the wedge join: the
    oriented out-neighbor lists N+(v) (each ≤ O(sqrt|E|)) are built with
    one collect_set groupBy, then every edge (u, v) counts
    |N+(u) ∩ N+(v)| in-row via array_intersect — the same |E|^{3/2}
    work, but the intermediate wedge rows never hit a shuffle (the
    o1⋈o2 join materialized |wedges| = 3.4× |E| rows at the 30× corpus
    before the closing-edge join could filter; the intersection form
    halved the query there, 222 s → ~107 s). Both joins against the
    adjacency table are hash equi-joins on part keys; the oracle keeps
    the wedge-join SQL — same count by construction (w ∈ N+(u) ∩ N+(v)
    ⇔ wedge (u,v),(v,w) closes with (u,w)).

    Exchange-width discipline (VERDICT r9 #1 — the 100× corpus pushed
    ~45-57 GB of neighbor arrays through one box's disk):

    (a) ORDER-SORTED ADJACENCY + PER-EDGE TRIM, the real cut: N+(u) is
    stored sorted by the orientation key (deg, id), and the edge (u, v)
    ships only the elements AFTER v's position — sound because any w
    closing the triangle lies in N+(v), whose members are all
    order-above v, so the dropped prefix can never intersect. The trim
    runs in the map stage BEFORE the heavy exchange, so the shipped
    volume drops from Σ_edges(|N+(u)|+|N+(v)|) array elements to
    (#wedges + Σ|N+(v)|) — the wedge count IS this algorithm family's
    information floor on an edge-partitioned exchange (measured at the
    100× corpus: 45.1 → 21.6 GB shuffle bytes, 2.1×). Byte-level tricks
    (int32 cast, delta encoding) measured ~0 on the same corpus — lz4
    already squeezes the zero bytes — so elements, not bytes, are what
    the trim removes.

    (b) vertex ids are cast to INT at the scan behind an in-plan domain
    guard (a key past 2^31 raises through the executed plan instead of
    truncating) — this also licenses the (deg, id) bigint packing of the
    sort key; (c) both adjacency joins carry a SHUFFLE_HASH hint on the
    (small) adjacency side so the heavy probe side streams through the
    join unsorted instead of paying an SMJ probe-side sort spill.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    li = li.withColumn(
        "l_partkey",
        F.when(
            F.col("l_partkey") > F.lit(2147483647),
            F.raise_error(
                F.concat(
                    F.lit("triangle_count: l_partkey "),
                    F.col("l_partkey").cast("string"),
                    F.lit(" exceeds the int32 vertex-id domain"),
                )
            ).cast("bigint"),
        )
        .otherwise(F.col("l_partkey"))
        .cast("int"),
    )
    a, b = li.alias("a"), li.alias("b")
    # the edge list feeds FIVE consumers (degree, orientation, node/edge
    # counts, and transitively the wedge join) — materialize it once, the
    # in-plan analog of writing the projected graph out before analytics
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
        .distinct()
        # narrow before caching (tokenized.source_gram_masks note): the
        # distinct caches at the 8×cores initial width and this table is
        # re-scanned by five consumers. r13 re-measured VERDICT r12's
        # width concern with the adjacency build cached (below): the
        # wedge probe times are equal at 32 vs 256 cached partitions
        # (0.709 vs 0.747 s medians), so the narrow cache stays.
        .coalesce(spark.sparkContext.defaultParallelism)
        .cache()
    )
    # cached: consumed by both orientation broadcasts AND the n_nodes
    # count below (the degree table's domain IS the vertex set, so the
    # separate 2|E|-row distinct the r10 plan ran for n_nodes is free)
    deg = (
        pairs.select(F.col("p1").alias("p"))
        .unionAll(pairs.select(F.col("p2").alias("p")))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("d"))
        .coalesce(spark.sparkContext.defaultParallelism)
        .cache()
    )
    # the degree table is one row per VERTEX (12 B each — ~24 MB at the
    # 100x corpus's 2 M parts), a classic broadcast dim against the
    # |E|-row edge list: both orientation lookups run map-side instead of
    # sorting 119.6 M rows twice through an SMJ
    with_deg = (
        pairs.join(
            F.broadcast(
                deg.withColumnRenamed("p", "p1").withColumnRenamed("d", "d1")
            ),
            "p1",
        )
        .join(
            F.broadcast(
                deg.withColumnRenamed("p", "p2").withColumnRenamed("d", "d2")
            ),
            "p2",
        )
    )
    lower_first = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("p1") < F.col("p2"))
    )
    # kdst packs the HIGHER endpoint's orientation key (deg, id) into one
    # bigint (ids int32-guarded above, degrees < 2^31): lexicographic on
    # (d, p) ≡ numeric on d·2^32 + p, so sorting adjacency structs by
    # (kdst, dst) yields the orientation order, and the per-edge trim can
    # locate dst inside N+(src) by value alone
    _pack = lambda d, p: F.col(d).cast("bigint") * F.lit(4294967296).cast(
        "bigint"
    ) + F.col(p).cast("bigint")
    oriented = with_deg.select(
        F.when(lower_first, F.col("p1")).otherwise(F.col("p2")).alias("src"),
        F.when(lower_first, F.col("p2")).otherwise(F.col("p1")).alias("dst"),
        F.when(lower_first, _pack("d2", "p2"))
        .otherwise(_pack("d1", "p1"))
        .alias("kdst"),
    ).cache()
    # NOTE: `oriented` inherits `pairs`' coalesced width through the
    # broadcast joins (no exchange between them), so it needs no second
    # coalesce of its own.
    # physical-strategy pick (VERDICT r10 #3): the oriented adjacency is
    # |E| int32 elements TOTAL (~0.5 GB at the 100x corpus) — far under
    # Spark's 8 GB broadcast cap — so both adjacency probes can run as
    # BROADCAST hash joins. That deletes the plan's one heavy exchange:
    # the per-edge trimmed suffixes (the ~3.4 G wedge elements that
    # shipped 13.6 GB through one disk at 100x) are then produced AND
    # consumed inside a single whole-stage pipeline — slice → broadcast
    # probe → array_intersect → partial sum — and never hit a shuffle.
    # The count below is a driver-side read of the already-cached edge
    # list (it also serves the n_edges output column); past the edge
    # budget (adjacency no longer broadcast-safe per executor) the plan
    # falls back to the r9 shuffle-hash form, whose exchange volume is
    # the trimmed wedge floor. 100x standalone: 81.5 s -> measured below.
    n_edges_val = oriented.count()
    # cached: BOTH adjacency probes (au and av below) consume this one
    # aggregate, but Spark's exchange reuse does NOT fire across the two
    # alias projections (verified in the executed plan: two independent
    # ShuffleQueryStages with identical 92.5 MiB / 1.05M-row stats), so
    # without the cache the collect_list build — the wedge family's one
    # real shuffle — ran TWICE per execution. Measured at sf0.1: wedge
    # stage 1.77 → 0.71 s median. Same persisted-adjacency-index
    # accounting as `pairs`/`deg` above (r12-audited: "the in-plan
    # analog of writing the projected graph out before analytics").
    adj = (
        oriented.groupBy("src")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(kdst, dst))),"
                " x -> x.dst)"
            ).alias("nbrs")
        )
        .coalesce(spark.sparkContext.defaultParallelism)
        .cache()
    )
    au = adj.select(F.col("src").alias("u"), F.col("nbrs").alias("nu"))
    av = adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nv"))
    if n_edges_val <= TRIANGLE_BROADCAST_EDGES:
        au, av = F.broadcast(au), F.broadcast(av)
    else:  # pragma: no cover - exercised only beyond the broadcast budget
        au, av = au.hint("shuffle_hash"), av.hint("shuffle_hash")
    # inner joins are exact: every edge's src has out-degree >= 1 by
    # construction, and an edge whose dst has no out-neighbors closes
    # zero triangles, so dropping it cannot change the sum
    with_nu = oriented.join(au, F.col("src") == F.col("u")).select(
        "dst",
        # the trim (docstring point a): dst ∈ N+(src) by construction, so
        # its position splits the order-sorted list; only the order-above
        # suffix can intersect N+(dst). Under the broadcast pick this
        # never leaves the stage; under the fallback it runs map-side of
        # the exchange, so the shipped elements are exactly the wedges.
        F.expr(
            "slice(nu, CAST(array_position(nu, dst) AS INT) + 1, size(nu))"
        ).alias("nu"),
    )
    tri = (
        with_nu.join(av, F.col("dst") == F.col("v"))
        .agg(
            F.coalesce(
                F.sum(F.size(F.array_intersect("nu", "nv"))), F.lit(0)
            )
            .cast("bigint")
            .alias("n_triangles")
        )
    )
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return (
        nodes.withColumn("n_edges", F.lit(n_edges_val).cast("bigint"))
        .crossJoin(F.broadcast(tri))
        .select("n_nodes", "n_edges", "n_triangles")
    )
