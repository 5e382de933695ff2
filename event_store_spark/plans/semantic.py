"""Semantic deduplication: k-means clusters + within-cluster cosine pruning.

The SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540 — public): cluster
the corpus embeddings with k-means, then enumerate cosine-similar pairs
ONLY inside each cluster and drop all but one member of every
above-threshold group. It removes *semantic* duplicates (same content,
different surface form) that MinHash/SimHash — which see only lexical
shingles — cannot, and its cost is bounded by cluster size instead of
corpus size, which is the whole trick: clustering is the data-adaptive
analog of `dedup_embedding`'s hyperplane-LSH bucketing.

Spark-first build, shared machinery end to end:

- clusters come from the SAME memoized Lloyd k-means as the IVF ANN family
  (`plans.ivf._ivf_index` — one build per session serves IVF search, IVFPQ
  and this dedup; the cached assignment DataFrame IS the cluster index)
- the pair stage is one `applyInPandas` per cluster: each vector crosses
  the Arrow boundary ONCE (n·d doubles), the cluster's full similarity
  matrix is a single BLAS matmul, and only the dropped ids return to the
  JVM — the same blocked-GEMM shape as `dedup_embedding`'s vectorized
  path. The first cut was a self-equi-join on `cell` with per-pair
  Catalyst folds; at the 10× corpus (20k vectors, ~2.5k per cell, 25M
  in-cell pairs) that measured 49 s warm vs 0.7 s for the GEMM form —
  interpreted per-element folds lose to BLAS by ~70× on the quadratic
  stage, exactly why `embedding_near_dup_pairs` went vectorized
- the drop rule is the deterministic greedy: a vector is dropped iff a
  LOWER-id member of its cluster sits at ``cosine >= TAU`` (every
  above-threshold clique keeps exactly its minimum id; no iteration, no
  driver state) — both engines compare on 4-dp-rounded cosine, the same
  epsilon pin `dedup_embedding` uses between its BLAS path and its
  sequential-fold oracle

100 TB shape: k grows with the corpus so clusters stay ~constant-size
(SemDeDup runs 110k clusters on LAION); the GEMM fan-out is then
O(n · cluster_size) flops behind one shuffle by cell, and `SEM_MAX_CELL`
makes the per-task memory bound explicit (an oversized cell fails loudly
inside the executed plan; recovery = more centroids). Train centroids on
a sample like `ann_ivf_sampled` and the build adds a single corpus scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_store_spark.plans.ivf import _ivf_index
from event_store_spark.plans.registry import register

#: Cosine threshold for "same meaning". The fixture's embeddings are
#: near-orthogonal random points (max pairwise cosine ≈ 0.51), so a
#: production-style 0.95+ would make the operator vacuously pass; 0.4
#: exercises drops at every SF while the plan is threshold-generic.
SEM_TAU = 0.4

#: Per-cluster size bound for the GEMM stage: a 10k×10k float64 similarity
#: matrix is ~800 MB, the upper end of one comfortable task. Bigger cells
#: mean k is too small for the corpus — fail loudly, retrain with more
#: centroids (the `max_bucket` guard convention from dedup_embedding).
SEM_MAX_CELL = 10_000

#: Same-cluster cosine as SQL text, 4-dp rounded before the threshold
#: test. The norm is HOISTED to one per vector (`av.nrm` below) — the pair
#: stage is the quadratic part, so this cuts its fold work 3×. 4 dp (not
#: more) because the engine side computes the same value via BLAS matmul,
#: whose summation order differs from `list_sum`'s sequential fold in the
#: last ulp — the rounding absorbs it (dedup_embedding's proven pin).
_SIM = """ROUND(
      list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
      / (a.nrm * b.nrm), 4)"""

def _kmeans_cte(seed_ctes: str) -> str:
    """The shared Lloyd k-means oracle build parameterized on its seed CTE
    (``c0`` must emit (cell, c)); one Lloyd pass, 6-dp centroid rounding,
    ties to lowest cell — verbatim ann_ivf_topk semantics either way."""
    return f"""
    e AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
    {seed_ctes}
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
    av AS (SELECT e.vec_id, e.v, a.cell,
                  sqrt(list_sum(list_transform(range(1, 65),
                      i -> e.v[i] * e.v[i]))) AS nrm
           FROM e JOIN a1 a USING (vec_id))"""


#: The IVF "full" build, verbatim from ann_ivf_topk's oracle (seed rows
#: 1..8 → one Lloyd pass, 6-dp centroid rounding, ties to lowest cell):
#: both operators must see the SAME clustering for the shared memoized
#: index to be legal.
_KMEANS_CTE = _kmeans_cte(
    "c0 AS (SELECT vec_id - 1 AS cell, v AS c FROM e"
    " WHERE vec_id BETWEEN 1 AND 8),"
)

#: The "adaptive" build: seed count k rides the CORPUS COUNT — k =
#: max(8, ceil(n / 512)), computing the identical count-dependent k the
#: engine's `_ivf_index(..., "adaptive")` uses, so both engines stay in
#: lockstep at every scale (the contrastive_negatives adaptive-modulus
#: rule applied to k-means seeding). At the correctness SFs (≤2000
#: vectors) k collapses to 8 and the build is bit-identical to "full".
_KMEANS_ADAPTIVE_CTE = _kmeans_cte(
    "kk AS (SELECT GREATEST(8, CAST(CEIL(COUNT(*) / 512.0) AS BIGINT)) AS k"
    " FROM e),\n"
    "    c0 AS (SELECT vec_id - 1 AS cell, v AS c FROM e, kk"
    " WHERE vec_id BETWEEN 1 AND kk.k),"
)


def _dropped(
    assigned: DataFrame, centroids: list | None = None
) -> DataFrame:
    """vec_ids dropped by the greedy rule: any EARLIER-ranked same-cell
    member at ``round(cosine, 4) >= SEM_TAU``.

    Rank order IS the keep policy. Default (``centroids=None``): rank by
    vec_id — the deterministic min-id-survives greedy. With
    ``centroids`` (the trained k-means list from `_ivf_index`): rank by
    (typicality, vec_id) ascending, where typicality = round(cosine to
    the cell's centroid, 4) — the paper-faithful SemDeDup policy (Abbas
    et al. 2023 §2: "keep the example with the LOWEST cosine similarity
    to the cluster centroid", i.e. the most-atypical member of every
    above-threshold clique survives).

    One `applyInPandas` per cell: the cell's vectors cross Arrow once as
    an n×d matrix, cosines are one BLAS matmul + outer-norm divide, and
    the boolean column-wise any() over the strict upper triangle (rows
    sorted in rank order, so [i, j] with i<j means "an earlier-ranked
    member is similar") is the whole drop rule. Only dropped ids return
    to the JVM. Centroids are K rows of driver metadata riding the
    closure — never a join, never shuffled."""
    import numpy as np
    import pandas as pd

    cmap = (
        {int(cell): np.asarray(c, dtype="float64") for cell, c in centroids}
        if centroids is not None
        else None
    )

    def cell_dropped(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"vec_id": pd.Series([], dtype="int64")})
        if n > SEM_MAX_CELL:
            raise ValueError(
                f"semantic_dedup: cell {int(pdf['cell'].iloc[0])} holds "
                f"{n} vectors (SEM_MAX_CELL={SEM_MAX_CELL}); retrain with "
                "more centroids"
            )
        if cmap is None:
            pdf = pdf.sort_values("vec_id")
        else:
            c = cmap[int(pdf["cell"].iloc[0])]
            Vt = np.stack(pdf["v"].to_numpy())
            tnrm = np.sqrt(np.einsum("ij,ij->i", Vt, Vt))
            typ = np.round(
                (Vt @ c) / (tnrm * np.sqrt(c @ c)), 4
            )
            pdf = pdf.assign(_typ=typ).sort_values(["_typ", "vec_id"])
        ids = pdf["vec_id"].to_numpy()
        V = np.stack(pdf["v"].to_numpy())
        nrm = np.sqrt(np.einsum("ij,ij->i", V, V))
        S = np.round((V @ V.T) / np.outer(nrm, nrm), 4)
        sim_mask = np.triu(S >= SEM_TAU, k=1)  # [i, j]: i<j and similar
        return pd.DataFrame(
            {"vec_id": ids[sim_mask.any(axis=0)].astype("int64")}
        )

    return (
        assigned.select("vec_id", "v", "cell")
        .groupBy("cell")
        .applyInPandas(cell_dropped, "vec_id bigint")
    )


@register(
    "semantic_dedup",
    oracle=f"""
    WITH {_KMEANS_CTE},
    dropped AS (SELECT DISTINCT b.vec_id
                FROM av a JOIN av b
                  ON a.cell = b.cell AND a.vec_id < b.vec_id
                WHERE {_SIM} >= {SEM_TAU})
    SELECT CAST(av.cell AS BIGINT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS members,
           CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS dropped_cnt,
           CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS kept_cnt
    FROM av LEFT JOIN dropped d ON av.vec_id = d.vec_id
    GROUP BY av.cell ORDER BY cell
    """,
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup per-cluster report: members / dropped / kept by k-means cell.

    The per-cell breakdown is the number a curation pipeline actually
    watches — a cluster whose drop rate spikes is a template farm or a
    crawler trap; uniform low drop rates mean the threshold is below the
    corpus's natural similarity floor.

    k is PINNED to 8 here for parity with the shared ANN-family IVF
    index; with fixed k the per-cell GEMM total is O(n²/k) by
    construction — `semantic_dedup_adaptive` is the corpus-adaptive-k
    form a growing corpus should run (PERF.md round-8 scale table)."""
    _, assigned = _ivf_index(spark, sf_dir, "full")
    return _cell_report(assigned)


def _cell_report(assigned: DataFrame) -> DataFrame:
    """members / dropped / kept per cell under the min-id greedy rule."""
    dropped = _dropped(assigned).withColumn("is_dropped", F.lit(1))
    return (
        assigned.join(dropped, "vec_id", "left")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("members"),
            F.sum(F.coalesce(F.col("is_dropped"), F.lit(0)))
            .cast("bigint")
            .alias("dropped_cnt"),
            F.sum(
                F.when(F.col("is_dropped").isNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("kept_cnt"),
        )
        .select(F.col("cell").cast("bigint"), "members", "dropped_cnt", "kept_cnt")
        .orderBy("cell")
    )


@register(
    "semantic_dedup_adaptive",
    oracle=f"""
    WITH {_KMEANS_ADAPTIVE_CTE},
    dropped AS (SELECT DISTINCT b.vec_id
                FROM av a JOIN av b
                  ON a.cell = b.cell AND a.vec_id < b.vec_id
                WHERE {_SIM} >= {SEM_TAU})
    SELECT CAST(av.cell AS BIGINT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS members,
           CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS dropped_cnt,
           CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS kept_cnt
    FROM av LEFT JOIN dropped d ON av.vec_id = d.vec_id
    GROUP BY av.cell ORDER BY cell
    """,
)
def semantic_dedup_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`semantic_dedup` with corpus-adaptive k — the 100 TB plan.

    Same report, same greedy min-id drop rule, same Lloyd build; the ONE
    difference is k = max(8, ⌈n / 512⌉) (`ivf.ADAPTIVE_TARGET`) instead
    of the ANN-family's pinned k=8, so mean cell occupancy — and with it
    the per-cell GEMM — stays ~constant as the corpus grows: pair work is
    O(n · 512) flops total instead of O(n²/8). This is the
    contrastive_negatives adaptive-modulus re-plan applied to SemDeDup
    (and the shape the paper itself runs: cluster count scales with the
    corpus, 110k clusters on LAION). The oracle computes the identical
    count-dependent k, keeping both engines in lockstep at every scale;
    at the correctness SFs (≤2000 vectors) k collapses to 8 and the
    result equals `semantic_dedup`'s exactly. Adaptivity itself is
    pinned by tests/test_semantic_adaptive.py on a synthesized 6k-vector
    corpus where k=12. SEM_MAX_CELL still guards the build: a skewed
    clustering that concentrates >10k vectors in one cell fails loudly
    instead of silently going quadratic."""
    _, assigned = _ivf_index(spark, sf_dir, "adaptive")
    return _cell_report(assigned)


#: two-level build: global fine cell id = coarse_cell * STRIDE + local
#: fine index (local count ≤ TL_COARSE_MAX / ADAPTIVE_TARGET ≪ STRIDE)
TL_CELL_STRIDE = 1_000_000
#: per-coarse-cell member bound for the in-task fine train: 250k × 64
#: doubles ≈ 128 MB, one comfortable Arrow task. Recovery = more coarse
#: cells (the SEM_MAX_CELL loud-guard convention one level up).
TL_COARSE_MAX = 250_000

def _twolevel_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, cell) under the two-level coarse→fine assign — the
    sub-quadratic replacement for the adaptive build's flat assign
    (VERDICT r8 #5, PERF.md "Remaining known asymptote").

    The flat adaptive build scores every vector against all k = ⌈n/512⌉
    centroids: O(n·k·d) = O(n²d/512) flops — quadratic by contract, the
    engine's one declared asymptote through round 8. Here:

    - COARSE: k₁ = ⌈√k⌉ centroids (seeds vec_id 1..k₁, one Lloyd pass,
      6-dp rounding — `_assign`/`_update` verbatim, GEMM path above 16);
      n·k₁ = n·√k flop assign.
    - FINE, per coarse cell inside ONE `applyInPandas` task: k_c =
      ⌈n_c/512⌉ local centroids seeded from the cell's lowest vec_ids,
      one numpy Lloyd pass (empty cluster keeps its seed), 6-dp rounding,
      argmin-first tie rule — the flat build's exact conventions, scoped
      to the cell. Σ n_c·k_c ≈ n²/(512·k₁) = n^1.5·√512/512.

    Total assign+train work is Θ(n^1.5/√512·d) versus the flat Θ(n²/512·d)
    — sub-quadratic, and every stage is either one GEMM scan or one
    shuffle by coarse cell. Mean fine occupancy still tracks
    ADAPTIVE_TARGET, so the downstream SemDeDup GEMM keeps its O(n·512)
    bound and SEM_MAX_CELL guard unchanged.

    When k ≤ GEMM_ASSIGN_K (every correctness SF: k collapses to 8) the
    two-level structure is pointless and this DELEGATES to the memoized
    flat adaptive build — making `semantic_dedup_twolevel` bit-equal to
    `semantic_dedup_adaptive` there, which is what lets it share the
    adaptive oracle. The crossover is pinned by
    tests/test_semantic_twolevel.py on a 12k-vector synth corpus (k=24,
    k₁=5) where the two-level path really engages.

    Built per call: its one registered query reads it once."""
    import math

    from event_store_spark.functions.vectors import as_double
    from event_store_spark.plans.ivf import (
        ADAPTIVE_TARGET,
        GEMM_ASSIGN_K,
        K,
        _assign,
        _ivf_index,
        _update,
    )
    from event_store_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    n = emb.count()
    k = max(K, math.ceil(n / ADAPTIVE_TARGET))
    if k <= GEMM_ASSIGN_K:
        return _ivf_index(spark, sf_dir, "adaptive")[1]

    from event_store_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    k1 = math.ceil(math.sqrt(k))
    coarse0 = sorted(
        (r["vec_id"] - 1, [float(x) for x in r["v"]])
        for r in emb.where(F.col("vec_id").between(1, k1)).collect()
    )
    coarse = _update(_assign(emb, coarse0))
    a = _assign(emb, coarse)

    import numpy as np
    import pandas as pd

    target = ADAPTIVE_TARGET

    def fine(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n_c = len(pdf)
        coarse_id = int(pdf["cell"].iloc[0])
        if n_c > TL_COARSE_MAX:
            raise ValueError(
                f"semantic_dedup_twolevel: coarse cell {coarse_id} holds "
                f"{n_c} vectors (TL_COARSE_MAX={TL_COARSE_MAX}); raise k1"
            )
        pdf = pdf.sort_values("vec_id")
        base = coarse_id * TL_CELL_STRIDE
        kc = max(1, math.ceil(n_c / target))
        if kc == 1 or n_c <= kc:
            return pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "v": pdf["v"],
                    "cell": np.full(n_c, base, dtype="int64"),
                }
            )
        V = np.asarray(pdf["v"].tolist(), dtype=np.float64)
        C = V[:kc].copy()  # seeds: the cell's lowest vec_ids

        def assign(cents):
            # argmin ‖v−c‖² = ‖c‖² − 2 v·c (‖v‖² constant per row);
            # numpy argmin takes the FIRST minimal index = lowest local
            # cell, the flat build's tie rule
            return (
                (cents * cents).sum(axis=1)[None, :] - 2.0 * (V @ cents.T)
            ).argmin(axis=1)

        pos = assign(C)
        for j in range(kc):  # Lloyd update; an empty cluster keeps its seed
            m = pos == j
            if m.any():
                C[j] = np.round(V[m].mean(axis=0), 6)
        pos = assign(C)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].astype("int64"),
                "v": pdf["v"],
                "cell": (base + pos).astype("int64"),
            }
        )

    return (
        a.select("vec_id", "v", "cell")
        .groupBy("cell")
        .applyInPandas(fine, "vec_id bigint, v array<double>, cell bigint")
    )


@register(
    "semantic_dedup_twolevel",
    oracle=f"""
    WITH {_KMEANS_ADAPTIVE_CTE},
    dropped AS (SELECT DISTINCT b.vec_id
                FROM av a JOIN av b
                  ON a.cell = b.cell AND a.vec_id < b.vec_id
                WHERE {_SIM} >= {SEM_TAU})
    SELECT CAST(av.cell AS BIGINT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS members,
           CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS dropped_cnt,
           CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS kept_cnt
    FROM av LEFT JOIN dropped d ON av.vec_id = d.vec_id
    GROUP BY av.cell ORDER BY cell
    """,
)
def semantic_dedup_twolevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`semantic_dedup_adaptive` with the SUB-QUADRATIC two-level assign
    (coarse √k cells → per-cell fine k-means inside one Arrow task) —
    the swap point PERF.md declared as the engine's remaining asymptote,
    now built (VERDICT r8 #5; see `_twolevel_assigned` for the flop
    accounting). Same report, same greedy min-id drop rule, same
    SEM_MAX_CELL guard; at correctness SFs k ≤ 16 makes it DELEGATE to
    the flat adaptive build, so the adaptive oracle pins it exactly
    there, and tests/test_semantic_twolevel.py pins the engaged path on
    a 12k-vector corpus."""
    return _cell_report(_twolevel_assigned(spark, sf_dir))


@register(
    "semantic_dedup_survivors",
    oracle=f"""
    WITH {_KMEANS_CTE},
    dropped AS (SELECT DISTINCT b.vec_id
                FROM av a JOIN av b
                  ON a.cell = b.cell AND a.vec_id < b.vec_id
                WHERE {_SIM} >= {SEM_TAU})
    SELECT CAST(av.vec_id AS BIGINT) AS vec_id,
           CAST(av.cell AS BIGINT) AS cell
    FROM av LEFT JOIN dropped d ON av.vec_id = d.vec_id
    WHERE d.vec_id IS NULL
    ORDER BY av.vec_id LIMIT 50
    """,
)
def semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kept set itself (first 50 by id) — what downstream training
    actually consumes; the anti-join twin of `semantic_dedup`'s counts,
    same pair build, same greedy min-id-survives rule."""
    _, assigned = _ivf_index(spark, sf_dir, "full")
    dropped = _dropped(assigned)
    return (
        assigned.join(dropped, "vec_id", "left_anti")
        .select(F.col("vec_id").cast("bigint"), F.col("cell").cast("bigint"))
        .orderBy("vec_id")
        .limit(50)
    )


@register(
    "semantic_dedup_atypical",
    oracle=f"""
    WITH {_KMEANS_CTE},
    typ AS (SELECT av.vec_id, av.cell, av.v, av.nrm,
                   ROUND(list_sum(list_transform(range(1, 65),
                       i -> av.v[i] * c.c[i]))
                   / (av.nrm * sqrt(list_sum(list_transform(range(1, 65),
                       i -> c.c[i] * c.c[i])))), 4) AS typ
            FROM av JOIN c1 c ON av.cell = c.cell),
    dropped AS (SELECT DISTINCT b.vec_id
                FROM typ a JOIN typ b
                  ON a.cell = b.cell
                 AND (a.typ < b.typ
                      OR (a.typ = b.typ AND a.vec_id < b.vec_id))
                WHERE {_SIM} >= {SEM_TAU})
    SELECT CAST(t.vec_id AS BIGINT) AS vec_id,
           CAST(t.cell AS BIGINT) AS cell,
           t.typ AS typ
    FROM typ t LEFT JOIN dropped d ON t.vec_id = d.vec_id
    WHERE d.vec_id IS NULL
    ORDER BY t.vec_id LIMIT 50
    """,
)
def semantic_dedup_atypical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paper-faithful SemDeDup keep policy (VERDICT r6 #4): every
    above-threshold clique keeps its MOST-ATYPICAL member — the one with
    the lowest cosine to its cluster centroid (Abbas et al. 2023 §2) —
    instead of `semantic_dedup_survivors`' greedy min-id. Matters to
    anyone reproducing the paper's recall numbers: atypical survivors
    preserve the cluster's boundary examples, which the paper shows is
    what keeps downstream accuracy. Same shared k-means index, same
    per-cell GEMM kernel, different rank order inside the cell; the
    survivor's typicality rides along so the policy is visible in the
    output. Keep-policy comparison measured in PERF.md."""
    centroids, assigned = _ivf_index(spark, sf_dir, "full")
    dropped = _dropped(assigned, centroids=centroids)
    cmap = {int(cell): [float(x) for x in c] for cell, c in centroids}
    cnorm = {
        cell: sum(x * x for x in c) ** 0.5 for cell, c in cmap.items()
    }
    cent_col = F.map_from_arrays(
        F.array(*[F.lit(c) for c in sorted(cmap)]),
        F.array(*[F.lit(cmap[c]) for c in sorted(cmap)]),
    )
    cnorm_col = F.map_from_arrays(
        F.array(*[F.lit(c) for c in sorted(cnorm)]),
        F.array(*[F.lit(cnorm[c]) for c in sorted(cnorm)]),
    )
    dot = F.aggregate(
        F.zip_with(F.col("v"), cent_col[F.col("cell")], lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    vnorm = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("v"), F.col("v"), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        assigned.join(dropped, "vec_id", "left_anti")
        .select(
            F.col("vec_id").cast("bigint"),
            F.col("cell").cast("bigint"),
            F.round(dot / (vnorm * cnorm_col[F.col("cell")]), 4).alias("typ"),
        )
        .orderBy("vec_id")
        .limit(50)
    )
