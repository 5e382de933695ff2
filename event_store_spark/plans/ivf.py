"""IVF (inverted-file) ANN: k-means cells learned FROM THE DATA, then
search only the query's cell.

`ann_lsh_topk` prunes with data-independent hyperplanes; real vector stores
(FAISS-style IVF) instead partition the corpus by learned centroids so cells
track the data distribution. This is that build, Spark-first and fully
deterministic so the DuckDB oracle can mirror it step for step:

- init: centroids := embeddings of vec_id 1..k (deterministic seed rows)
- one Lloyd refinement pass (more are the same pattern — each adds one
  assign+update round trip): assign each vector to its nearest centroid
  (squared L2, ties → lowest cell id), recompute centroids as the
  per-dimension mean ROUNDED to 6 decimals — rounding pins the floating
  sum-order difference between engines so both sides see bit-identical
  centroid literals
- search: score cosine only inside the query's cell (top-5)

Scale shape: each assignment pass is one map-side expression over a
broadcast O(k·d) centroid table (k·d doubles live on the driver between
passes — the standard IVF build state); each update is one hash
aggregation producing k rows. Nothing iterates per-row on the driver. At
100 TB you train centroids on a sample with the same two passes, then the
one assignment+search pass is a single scan; nprobe>1 = union the nearest
cells, exactly like `ann_multiprobe_topk`'s probe union."""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_store_spark.functions.vectors import as_double, cosine
from event_store_spark.plans.registry import register
from event_store_spark.tables import load_table, memo

K = 8
DIM = 64
ITERS = 1  # each extra iteration = one more (assign, update, collect) round
SAMPLE = 32  # ann_ivf_sampled's training-sample size (md5 bottom-k)
#: centroid count above which `_assign` switches from the Catalyst
#: expression (exact oracle arithmetic; interpreted O(k·d) per row) to the
#: Arrow/numpy GEMM. Every oracle-checked scale (sf0.001/0.01/0.1 and the
#: 6k-vector synth corpus) resolves adaptive k ≤ 12, under this — the GEMM
#: path only ever runs on scale corpora whose oracles are wall-capped
#: anyway (first cut used 64, which left the 10× corpus's k=40 on the
#: interpreted path: 106 s where the GEMM form runs ~4 s).
GEMM_ASSIGN_K = 16

#: The "adaptive" build's target mean cell occupancy: k = max(K, ceil(n /
#: ADAPTIVE_TARGET)), the adaptive_planes rule (llm.py:249) applied to
#: k-means. A FIXED k makes every cell grow linearly with the corpus, so
#: any per-cell quadratic stage (semantic_dedup's GEMM) inherits an O(n²)
#: total — k must ride the corpus count for the within-cell work to stay
#: O(n · ADAPTIVE_TARGET). 512 keeps the GEMM's similarity matrix around
#: 2 MB/cell, far under SEM_MAX_CELL's loud guard.
ADAPTIVE_TARGET = 512


def _ivf_index(spark: SparkSession, sf_dir: str, variant: str):
    """Return (centroids, assigned) for the given build variant.

    Memoized per session (`tables.memo`): an IVF index is built ONCE and
    then serves every search — rebuilding the identical deterministic
    k-means per query (and per bench rep) charges the build to every
    lookup, which is not how an inverted file is used. The build is fully
    deterministic, so reuse cannot change any result. The cached
    `assigned` DataFrame IS the inverted file (corpus rows + their cell),
    persisted in memory — at cluster scale this is the index you would
    write to storage, partitioned by cell."""

    def build():
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", as_double("embedding").alias("v")
        )
        if variant in ("full", "adaptive"):
            # init from seed rows 1..k, Lloyd-refine over the whole corpus.
            # "full" pins k = K (=8, the ANN-family parity constant shared
            # with every IVF oracle's seed CTE); "adaptive" grows k with the
            # corpus so mean cell occupancy tracks ADAPTIVE_TARGET — the
            # count() is one aggregate job per BUILD (memoized per session),
            # the same driver-metadata class as the centroid collect below.
            k = K
            if variant == "adaptive":
                import math

                k = max(K, math.ceil(emb.count() / ADAPTIVE_TARGET))
            centroids = sorted(
                (r["vec_id"] - 1, list(r["v"]))
                for r in emb.where(F.col("vec_id").between(1, k)).collect()
            )
            assigned = _assign(emb, centroids)
            for _ in range(ITERS):
                centroids = _update(assigned)
                assigned = _assign(emb, centroids)
        else:  # "sampled": train on a deterministic md5 bottom-k sample
            sample_rows = (
                emb.withColumn("_h", F.md5(F.col("vec_id").cast("string")))
                .orderBy("_h", "vec_id")
                .limit(SAMPLE)
                .drop("_h")
                .collect()
            )
            init = [(i, [float(x) for x in r["v"]]) for i, r in enumerate(sample_rows[:K])]
            sample_df = spark.createDataFrame(
                [(r["vec_id"], [float(x) for x in r["v"]]) for r in sample_rows],
                "vec_id bigint, v array<double>",
            )
            centroids = _update(_assign(sample_df, init))
            assigned = _assign(emb, centroids)
        return centroids, assigned.cache()

    return memo(spark, (_ivf_index, sf_dir, variant), build)


def _assign(emb: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """Nearest-centroid cell per vector: argmin over the k×d centroid matrix.

    The matrix is ONE nested ArrayType literal and the argmin ONE
    transform+array_min expression — not k separate fold subtrees — so
    Catalyst analysis/codegen stays flat in k. `array_position` returns the
    FIRST index holding the min, and `centroids` is sorted by cell id, so
    ties break to the lowest cell (the oracle's ORDER BY dist, cell).

    Above ``GEMM_ASSIGN_K`` centroids the per-row expression flips to an
    Arrow-batched numpy GEMM (`mapInPandas`): higher-order lambdas are
    INTERPRETED, so the expression form's per-row cost is O(k·d) lambda
    calls — at the adaptive build's k = n/512 that made the 100× assign
    ~25 min where the GEMM runs it in seconds (argmin over
    ‖c‖² − 2 V·Cᵀ; ties to the lowest cell via argmin-first + cell-sorted
    rows, the same rule). Every oracle-checked scale runs k ≤ 12 and
    stays on the expression path, so hash parity never depends on
    float-sum order; both paths are deterministic per-path."""
    if len(centroids) > GEMM_ASSIGN_K:
        return _assign_gemm(emb, centroids)
    ids = F.lit([cell for cell, _ in centroids])
    mat = F.lit([[float(x) for x in c] for _, c in centroids])
    dists = F.transform(
        mat,
        lambda c: F.aggregate(
            F.zip_with(F.col("v"), c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    pos = F.array_position(dists, F.array_min(dists))
    return emb.withColumn("cell", F.element_at(ids, pos.cast("int")))


def assign_spilled(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    spill: int = 2,
) -> DataFrame:
    """SOAR-style spilled assignment (public technique: ScaNN's spilling /
    SOAR, Sun et al. 2023): index each vector in its ``spill`` nearest
    cells instead of only the nearest. Low-nprobe searches then see the
    BOUNDARY vectors of neighboring cells — the classic IVF recall
    failure at nprobe=1 — at the cost of `spill`× index rows (the
    standard storage-for-recall trade every production IVF store offers).

    One row per (vector, rank<spill) with `rank` 1-based: rank=1 is
    exactly `_assign`'s cell (pinned by test), so a spilled index serves
    primary-only consumers by filtering rank=1. Same determinism contract
    as `_assign`: ranked by (squared L2 ASC, cell ASC) via an array_sort
    over (dist, cell) structs — one flat expression, no UDF."""
    ids = F.lit([cell for cell, _ in centroids])
    mat = F.lit([[float(x) for x in c] for _, c in centroids])
    dists = F.transform(
        mat,
        lambda c: F.aggregate(
            F.zip_with(F.col("v"), c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    ranked = F.slice(
        F.array_sort(
            F.zip_with(dists, ids, lambda d, c: F.struct(d.alias("d"), c.alias("c")))
        ),
        1,
        spill,
    )
    return emb.select(
        "vec_id",
        "v",
        F.posexplode(F.transform(ranked, lambda x: x["c"])).alias("rank0", "cell"),
    ).select(
        "vec_id", "v", "cell", (F.col("rank0") + 1).cast("int").alias("rank")
    )


def _assign_gemm(
    emb: DataFrame, centroids: list[tuple[int, list[float]]]
) -> DataFrame:
    """Large-k assign: per Arrow batch, argmin_k(‖c_k‖² − 2 V·Cᵀ) — the
    ‖v‖² term is constant per row and dropped. numpy argmin returns the
    FIRST minimal index and rows are cell-sorted, so ties break to the
    lowest cell like the expression path. Passes `v` through so callers
    see the identical (vec_id, v, cell) shape."""
    import numpy as np
    import pandas as pd

    from event_store_spark.shipping import ensure_shipped

    ensure_shipped(emb.sparkSession)
    ids = [int(cell) for cell, _ in centroids]
    mat = [[float(x) for x in c] for _, c in centroids]

    def assign_batches(pdfs):
        ids_a = np.asarray(ids, dtype=np.int32)
        mat_a = np.asarray(mat, dtype=np.float64)  # k×d
        c_sq = (mat_a * mat_a).sum(axis=1)  # ‖c‖², length k
        for pdf in pdfs:
            if not len(pdf):
                yield pdf.assign(cell=pd.Series([], dtype="int32"))
                continue
            v = np.asarray(pdf["v"].tolist(), dtype=np.float64)  # B×d
            pos = (c_sq[None, :] - 2.0 * (v @ mat_a.T)).argmin(axis=1)
            yield pdf.assign(cell=ids_a[pos])

    return emb.mapInPandas(
        assign_batches, "vec_id bigint, v array<double>, cell int"
    )


def _update(assigned: DataFrame) -> list[tuple[int, list[float]]]:
    """New centroid = per-dimension mean, rounded to 6 dp (cross-engine
    float-sum-order pin). One hash agg; k rows to the driver."""
    rows = (
        assigned.groupBy("cell")
        .agg(*[F.round(F.avg(F.col("v")[i]), 6).alias(f"c{i}") for i in range(DIM)])
        .collect()
    )
    return sorted((r["cell"], [r[f"c{i}"] for i in range(DIM)]) for r in rows)


@register(
    "ann_ivf_topk",
    oracle="""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    c0 AS (SELECT vec_id - 1 AS cell, v AS c FROM e WHERE vec_id BETWEEN 1 AND 8),
    a0 AS (SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell, ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY list_sum(list_transform(range(1, 65),
                i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))), c.cell) AS rn
        FROM e, c0 c) WHERE rn = 1),
    c1 AS (SELECT cell, list(m ORDER BY i) AS c FROM (
        SELECT a.cell, t.i, ROUND(AVG(e.v[t.i]), 6) AS m
        FROM a0 a JOIN e USING (vec_id), range(1, 65) t(i)
        GROUP BY a.cell, t.i) GROUP BY cell),
    a1 AS (SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell, ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY list_sum(list_transform(range(1, 65),
                i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))), c.cell) AS rn
        FROM e, c1 c) WHERE rn = 1),
    q AS (SELECT e.v AS qv, a.cell FROM e JOIN a1 a USING (vec_id) WHERE e.vec_id = 0),
    scored AS (SELECT e.vec_id,
        list_sum(list_transform(range(1, 65), i -> e.v[i] * q.qv[i]))
        / (sqrt(list_sum(list_transform(range(1, 65), i -> e.v[i] * e.v[i])))
         * sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i]))))
            AS sim
        FROM e JOIN a1 a USING (vec_id) JOIN q ON a.cell = q.cell
        WHERE e.vec_id <> 0)
    SELECT vec_id, ROUND(sim, 4) AS sim FROM scored
    ORDER BY sim DESC, vec_id LIMIT 5
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 for vec_id=0: Lloyd-refined cells → search the query's cell."""
    _, assigned = _ivf_index(spark, sf_dir, "full")
    query = assigned.where(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"), F.col("cell").alias("qcell")
    )
    return (
        assigned.where(F.col("vec_id") != 0)
        .join(F.broadcast(query), F.col("cell") == F.col("qcell"))
        .select("vec_id", F.round(cosine(F.col("v"), F.col("qv")), 4).alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(5)
    )


@register(
    "ann_ivf_spilled_topk",
    oracle="""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    c0 AS (SELECT vec_id - 1 AS cell, v AS c FROM e WHERE vec_id BETWEEN 1 AND 8),
    a0 AS (SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell, ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY list_sum(list_transform(range(1, 65),
                i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))), c.cell) AS rn
        FROM e, c0 c) WHERE rn = 1),
    c1 AS (SELECT cell, list(m ORDER BY i) AS c FROM (
        SELECT a.cell, t.i, ROUND(AVG(e.v[t.i]), 6) AS m
        FROM a0 a JOIN e USING (vec_id), range(1, 65) t(i)
        GROUP BY a.cell, t.i) GROUP BY cell),
    ar AS (SELECT vec_id, cell, rn FROM (
        SELECT e.vec_id, c.cell, ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY list_sum(list_transform(range(1, 65),
                i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))), c.cell) AS rn
        FROM e, c1 c) WHERE rn <= 2),
    q AS (SELECT e.v AS qv, a.cell FROM e JOIN ar a USING (vec_id)
          WHERE e.vec_id = 0 AND a.rn = 1),
    scored AS (SELECT e.vec_id,
        list_sum(list_transform(range(1, 65), i -> e.v[i] * q.qv[i]))
        / (sqrt(list_sum(list_transform(range(1, 65), i -> e.v[i] * e.v[i])))
         * sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i]))))
            AS sim
        FROM e JOIN ar a USING (vec_id) JOIN q ON a.cell = q.cell
        WHERE e.vec_id <> 0)
    SELECT vec_id, ROUND(sim, 4) AS sim FROM scored
    ORDER BY sim DESC, vec_id LIMIT 5
    """,
)
def ann_ivf_spilled_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 with SOAR-style spilled assignment (spill=2): every
    vector is indexed in its TWO nearest cells, so probing the query's
    single primary cell also surfaces the boundary vectors of adjacent
    cells — the recall lift ScaNN's spilling buys at nprobe=1, for 2×
    index rows. A vector's two cells are distinct by construction, so
    the probed cell holds each candidate at most once — no dedup stage.
    Oracle replays the identical spilled assignment in SQL (rn <= 2)
    with the same (dist ASC, cell ASC) rank rule, so the hash check
    pins both the spill semantics and the scored set."""
    centroids, assigned = _ivf_index(spark, sf_dir, "full")
    spilled = assign_spilled(
        assigned.select("vec_id", "v"), centroids, spill=2
    )
    query = assigned.where(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"), F.col("cell").alias("qcell")
    )
    return (
        spilled.where(F.col("vec_id") != 0)
        .join(F.broadcast(query), F.col("cell") == F.col("qcell"))
        .select(
            "vec_id", F.round(cosine(F.col("v"), F.col("qv")), 4).alias("sim")
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(5)
    )


@register(
    "ann_ivf_filtered",
    oracle="""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    c0 AS (SELECT vec_id - 1 AS cell, v AS c FROM e WHERE vec_id BETWEEN 1 AND 8),
    a0 AS (SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell, ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY list_sum(list_transform(range(1, 65),
                i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))), c.cell) AS rn
        FROM e, c0 c) WHERE rn = 1),
    c1 AS (SELECT cell, list(m ORDER BY i) AS c FROM (
        SELECT a.cell, t.i, ROUND(AVG(e.v[t.i]), 6) AS m
        FROM a0 a JOIN e USING (vec_id), range(1, 65) t(i)
        GROUP BY a.cell, t.i) GROUP BY cell),
    a1 AS (SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell, ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY list_sum(list_transform(range(1, 65),
                i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))), c.cell) AS rn
        FROM e, c1 c) WHERE rn = 1),
    q AS (SELECT e.v AS qv, a.cell FROM e JOIN a1 a USING (vec_id) WHERE e.vec_id = 0),
    scored AS (SELECT e.vec_id,
        list_sum(list_transform(range(1, 65), i -> e.v[i] * q.qv[i]))
        / (sqrt(list_sum(list_transform(range(1, 65), i -> e.v[i] * e.v[i])))
         * sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i]))))
            AS sim
        FROM e JOIN a1 a USING (vec_id) JOIN q ON a.cell = q.cell
        WHERE e.vec_id <> 0 AND e.label % 3 = 0)
    SELECT vec_id, ROUND(sim, 4) AS sim FROM scored
    ORDER BY sim DESC, vec_id LIMIT 5
    """,
)
def ann_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — IVF top-5 for vec_id=0 restricted to
    vectors whose metadata passes a predicate (label % 3 = 0): the
    production retrieval shape (tenant / language / license filters over
    a vector index) every serving stack special-cases.

    This is the PRE-FILTER formulation: the predicate lands on the
    assigned-index rows BEFORE the cell probe, so the scored candidate
    set is (query's cell ∩ filter) — semantics the oracle mirrors
    exactly. The label rides a vec_id equi-join against the embeddings
    table pruned to (vec_id, label); on a persisted index (an ivf
    `VectorIndex` stores cell-partitioned parquet) the same predicate pushes
    into the parquet scan of the index itself and cell pruning +
    row-group filter stats compose. At 100 TB the documented trade-off
    applies: a highly selective filter empties cells, and a serving
    deployment raises nprobe (`ann_ivf_nprobe`'s knob) as selectivity
    rises — this query pins the exact pre-filter semantics those
    variants share. Shares the memoized IVF build with the whole
    ann_ivf family (one Lloyd refinement per session, never per query).
    """
    _, assigned = _ivf_index(spark, sf_dir, "full")
    labels = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    query = assigned.where(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"), F.col("cell").alias("qcell")
    )
    return (
        assigned.where(F.col("vec_id") != 0)
        .join(labels, "vec_id")
        .where(F.col("label") % 3 == 0)
        .join(F.broadcast(query), F.col("cell") == F.col("qcell"))
        .select("vec_id", F.round(cosine(F.col("v"), F.col("qv")), 4).alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(5)
    )


@register(
    "ann_ivf_sampled",
    oracle=f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    samp AS (SELECT vec_id, v FROM (
        SELECT vec_id, v,
               ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                   AS rn
        FROM e) WHERE rn <= {SAMPLE}),
    c0 AS (SELECT rn - 1 AS cell, v AS c FROM (
        SELECT vec_id, v,
               ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                   AS rn
        FROM e) WHERE rn <= {K}),
    a0 AS (SELECT vec_id, cell FROM (
        SELECT s.vec_id, c.cell, ROW_NUMBER() OVER (PARTITION BY s.vec_id
            ORDER BY list_sum(list_transform(range(1, 65),
                i -> (s.v[i] - c.c[i]) * (s.v[i] - c.c[i]))), c.cell) AS rn
        FROM samp s, c0 c) WHERE rn = 1),
    c1 AS (SELECT cell, list(m ORDER BY i) AS c FROM (
        SELECT a.cell, t.i, ROUND(AVG(s.v[t.i]), 6) AS m
        FROM a0 a JOIN samp s USING (vec_id), range(1, 65) t(i)
        GROUP BY a.cell, t.i) GROUP BY cell),
    a1 AS (SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell, ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY list_sum(list_transform(range(1, 65),
                i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))), c.cell) AS rn
        FROM e, c1 c) WHERE rn = 1),
    q AS (SELECT e.v AS qv, a.cell FROM e JOIN a1 a USING (vec_id) WHERE e.vec_id = 0),
    scored AS (SELECT e.vec_id,
        list_sum(list_transform(range(1, 65), i -> e.v[i] * q.qv[i]))
        / (sqrt(list_sum(list_transform(range(1, 65), i -> e.v[i] * e.v[i])))
         * sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i]))))
            AS sim
        FROM e JOIN a1 a USING (vec_id) JOIN q ON a.cell = q.cell
        WHERE e.vec_id <> 0)
    SELECT vec_id, ROUND(sim, 4) AS sim FROM scored
    ORDER BY sim DESC, vec_id LIMIT 5
    """,
)
def ann_ivf_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 with SAMPLE-trained centroids — the 100 TB build path.

    `ann_ivf_topk` runs its Lloyd refinement over the whole corpus (two
    full assignment passes). Here centroids are trained on a deterministic
    md5 bottom-32 sample (the same coordination-free selection as
    `plans.pipeline.sample_bottomk`): the hash-ordered bottom-32 rows
    are ONE TakeOrdered collect (per-partition top-k heaps, no shuffle);
    init + the Lloyd refinement then run over the collected sample as a
    local DataFrame — zero additional corpus scans — and the corpus is
    touched exactly once more for the final assignment+search pass.
    Centroid means round to 6 dp (cross-engine float-sum-order pin, same
    as `ann_ivf_topk`); ties break to the lowest cell everywhere."""
    _, assigned = _ivf_index(spark, sf_dir, "sampled")
    query = assigned.where(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"), F.col("cell").alias("qcell")
    )
    return (
        assigned.where(F.col("vec_id") != 0)
        .join(F.broadcast(query), F.col("cell") == F.col("qcell"))
        .select("vec_id", F.round(cosine(F.col("v"), F.col("qv")), 4).alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(5)
    )


NPROBE = 2  # ann_ivf_nprobe: search the query's 2 nearest cells


@register(
    "ann_ivf_nprobe",
    oracle=f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    c0 AS (SELECT vec_id - 1 AS cell, v AS c FROM e WHERE vec_id BETWEEN 1 AND 8),
    a0 AS (SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell, ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY list_sum(list_transform(range(1, 65),
                i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))), c.cell) AS rn
        FROM e, c0 c) WHERE rn = 1),
    c1 AS (SELECT cell, list(m ORDER BY i) AS c FROM (
        SELECT a.cell, t.i, ROUND(AVG(e.v[t.i]), 6) AS m
        FROM a0 a JOIN e USING (vec_id), range(1, 65) t(i)
        GROUP BY a.cell, t.i) GROUP BY cell),
    a1 AS (SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell, ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY list_sum(list_transform(range(1, 65),
                i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))), c.cell) AS rn
        FROM e, c1 c) WHERE rn = 1),
    qv AS (SELECT v FROM e WHERE vec_id = 0),
    qc AS (SELECT cell FROM (
        SELECT c.cell, ROW_NUMBER() OVER (ORDER BY
            list_sum(list_transform(range(1, 65),
                i -> (q.v[i] - c.c[i]) * (q.v[i] - c.c[i]))), c.cell) AS rn
        FROM c1 c, qv q) WHERE rn <= {NPROBE}),
    scored AS (SELECT e.vec_id,
        list_sum(list_transform(range(1, 65), i -> e.v[i] * q.v[i]))
        / (sqrt(list_sum(list_transform(range(1, 65), i -> e.v[i] * e.v[i])))
         * sqrt(list_sum(list_transform(range(1, 65), i -> q.v[i] * q.v[i]))))
            AS sim
        FROM e JOIN a1 a USING (vec_id) JOIN qc ON a.cell = qc.cell, qv q
        WHERE e.vec_id <> 0)
    SELECT vec_id, ROUND(sim, 4) AS sim FROM scored
    ORDER BY sim DESC, vec_id LIMIT 5
    """,
)
def ann_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 searching the query's 2 nearest cells (nprobe>1) —
    the recall knob real IVF deployments turn, the cell analog of
    `ann_multiprobe_topk`'s Hamming-1 bucket union.

    Single-cell IVF loses neighbors that sit just across a Voronoi
    boundary; probing the p nearest cells recovers most of that recall for
    p/k of the corpus scanned. The probe-cell choice happens INSIDE the
    plan: the query row ranks the broadcast k×d centroid matrix by squared
    L2 (one zip_with fold per cell, array_sort of (dist, cell) structs —
    ties to the lowest cell), slices the top nprobe=2, and explodes; the
    corpus side still sees one equi-join on its own cell, so cost scales
    with probed-cells/k, never with k."""
    centroids, assigned = _ivf_index(spark, sf_dir, "full")
    ids = F.lit([cell for cell, _ in centroids])
    mat = F.lit([[float(x) for x in c] for _, c in centroids])
    dists = F.transform(
        mat,
        lambda c: F.aggregate(
            F.zip_with(F.col("v"), c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    ranked = F.array_sort(
        F.zip_with(
            dists,
            ids,
            lambda d, c: F.struct(d.alias("dist"), c.alias("cell")),
        )
    )
    probes = (
        assigned.where(F.col("vec_id") == 0)
        .select(
            F.col("v").alias("qv"),
            F.explode(
                F.transform(F.slice(ranked, 1, NPROBE), lambda s: s["cell"])
            ).alias("pcell"),
        )
    )
    return (
        assigned.where(F.col("vec_id") != 0)
        .join(F.broadcast(probes), F.col("cell") == F.col("pcell"))
        .select("vec_id", F.round(cosine(F.col("v"), F.col("qv")), 4).alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(5)
    )


# ------------------------------------------ persisted index (VectorIndex)

def ivf_train(spark: SparkSession, sf_dir: str, variant: str = "full"):
    """(rows, meta text) of a persisted IVF index: the cell-assigned
    corpus, written partitioned by cell (the on-disk inverted file, so a
    single-cell search lists exactly ``cell=c/``), and the centroids it
    was assigned by (k×d doubles, the only state a searcher loads before
    planning). ``variant`` is `_ivf_index`'s build variant."""
    centroids, assigned = _ivf_index(spark, sf_dir, variant)
    return assigned, json.dumps([[cell, c] for cell, c in centroids])


def ivf_parse(text: str) -> list[tuple[int, list[float]]]:
    """The centroids an `ivf_train` meta text holds (exact doubles)."""
    return [(int(cell), [float(x) for x in c]) for cell, c in json.loads(text)]


def ivf_search(
    assigned: DataFrame,
    centroids: list[tuple[int, list[float]]],
    query_v: list[float],
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """Top-k cosine over the nprobe nearest cells of a saved/loaded index.

    The query is a plan LITERAL (centroid ranking happens driver-side on
    k×d floats — the metadata a vector store keeps hot), so the executed
    plan is a partition-pruned scan of the probed cells + one top-k: no
    join, no shuffle beyond TakeOrdered's heaps. The oracle-checked
    `ann_ivf_topk`/`ann_ivf_nprobe` pin these semantics against SQL; this
    is the serving-path API over the persisted layout (equality with the
    in-session plans is pinned by tests/test_ivf_persistence.py)."""
    import math

    ranked = sorted(
        (
            sum((a - b) * (a - b) for a, b in zip(query_v, c)),
            cell,
        )
        for cell, c in centroids
    )
    probe_cells = [cell for _, cell in ranked[:nprobe]]
    qn = math.sqrt(sum(x * x for x in query_v))
    qcol = F.lit([float(x) for x in query_v])
    sim = F.aggregate(
        F.zip_with(F.col("v"), qcol, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / (
        F.sqrt(
            F.aggregate(
                F.zip_with(F.col("v"), F.col("v"), lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        * F.lit(qn)
    )
    return (
        assigned.where(F.col("cell").isin(probe_cells))
        .select("vec_id", F.round(sim, 4).alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(k)
    )
