"""semantic_dedup_adaptive: the corpus-adaptive-k SemDeDup twin.

The correctness SFs hold ≤2000 vectors, where the adaptive rule
k = max(8, ceil(n/512)) collapses to the pinned k=8 — so the driver's
oracle gate proves parity but never exercises adaptivity itself. This
suite synthesizes a 6000-vector corpus (12 perturbed copies of sf0.001's
embeddings, the scale-point synthesis rule) where k=12, and pins:

- engine ≡ DuckDB oracle on the synthesized corpus (the lockstep claim:
  both sides compute the identical count-dependent k, then the identical
  Lloyd pass, then the identical greedy drop rule)
- the trained index really has 12 cells (adaptivity engaged, not 8)
- at the stock fixtures the adaptive result equals semantic_dedup's
  (k collapses to 8 ⇒ same clustering ⇒ same report)
"""

from __future__ import annotations

import math
import os
import shutil

import pytest
from pyspark.sql import functions as F

from event_store_spark.plans import ORACLE, QUERIES
from event_store_spark.plans.ivf import ADAPTIVE_TARGET, _ivf_index
from event_store_spark.tables import TABLE_NAMES, load_table

from tests.oracle_harness import compare

SRC = "/root/testdata/sf0.001"
COPIES = 12  # 12 * 500 = 6000 vectors -> k = ceil(6000/512) = 12 > 8


@pytest.fixture(scope="module")
def synth_dir(spark, tmp_path_factory):
    """sf0.001 with embeddings replaced by 12 re-keyed, perturbed copies.

    Non-embeddings tables are copied verbatim (the oracle CTE reads only
    `embeddings`, but the harness registers every table as a view).
    Perturbation is the scale-point fixtures' rule: per-(copy, dim)
    deterministic nudge so no cell holds artificial twins.
    """
    out = str(tmp_path_factory.mktemp("sf_adaptive"))
    for t in TABLE_NAMES:
        if t == "embeddings":
            continue
        src = os.path.join(SRC, f"{t}.parquet")
        shutil.copy(src, os.path.join(out, f"{t}.parquet"))
    emb = load_table(spark, SRC, "embeddings")
    copies = spark.range(COPIES).select(F.col("id").cast("int").alias("_i"))
    scaled = (
        emb.crossJoin(F.broadcast(copies))
        .withColumn("vec_id", F.col("vec_id") + F.col("_i").cast("bigint") * 10_000)
        .withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x, j: F.when(F.col("_i") == 0, x).otherwise(
                    (
                        x
                        + (F.pmod(F.col("_i") * 31 + j, F.lit(7)) - F.lit(3)).cast(
                            "float"
                        )
                        * F.lit(0.01)
                    ).cast("float")
                ),
            ),
        )
        .drop("_i")
    )
    # single-FILE parquet (the fixture layout DuckDB's view reads): write
    # the one-partition dir, then lift the part file out
    stage = os.path.join(out, "_emb_stage")
    scaled.coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    shutil.move(
        os.path.join(stage, part), os.path.join(out, "embeddings.parquet")
    )
    shutil.rmtree(stage)
    return out


def test_adaptive_k_engages(spark, synth_dir):
    centroids, assigned = _ivf_index(spark, synth_dir, "adaptive")
    n = load_table(spark, synth_dir, "embeddings").count()
    assert n == 6000
    want = max(8, math.ceil(n / ADAPTIVE_TARGET))
    assert want == 12
    # trained cell count tracks the seed count (Lloyd may only drop a
    # cell if a seed loses every member — doesn't happen on this corpus)
    assert len(centroids) == 12
    cells = [r["cell"] for r in assigned.select("cell").distinct().collect()]
    assert sorted(cells) == sorted(c for c, _ in centroids)


def test_lockstep_at_adaptive_scale(spark, synth_dir):
    """Engine vs DuckDB oracle on the corpus where k=12: the full
    count-dependent pipeline (k -> seeds -> Lloyd -> GEMM -> greedy)
    must agree cell-for-cell."""
    df = QUERIES["semantic_dedup_adaptive"](spark, synth_dir)
    ok, msg = compare(df, ORACLE["semantic_dedup_adaptive"], synth_dir)
    assert ok, msg


def test_collapses_to_pinned_k_at_fixture_scale(spark):
    """At ≤2000 vectors the adaptive rule yields k=8, so the report must
    equal semantic_dedup's exactly."""
    a = QUERIES["semantic_dedup_adaptive"](spark, SRC).collect()
    b = QUERIES["semantic_dedup"](spark, SRC).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_gemm_assign_equals_expression_assign(spark, synth_dir):
    """The large-k GEMM fast path (`_assign_gemm`) and the oracle-exact
    expression path assign identical cells (same argmin, same
    ties-to-lowest-cell rule) — pinned on the 6k synth corpus with the
    k=12 trained centroids, and schema-identical so the flip is
    invisible downstream."""
    from pyspark.sql import functions as F

    from event_store_spark.functions.vectors import as_double
    from event_store_spark.plans.ivf import _assign, _assign_gemm

    centroids, _ = _ivf_index(spark, synth_dir, "adaptive")
    emb = load_table(spark, synth_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    expr_df = _assign(emb, centroids)
    gemm_df = _assign_gemm(emb, centroids)
    # names+types identical (nullability flags differ — mapInPandas output
    # is nullable by declaration; no downstream consumer branches on it)
    assert gemm_df.schema.simpleString() == expr_df.schema.simpleString()
    e = {r["vec_id"]: r["cell"] for r in expr_df.collect()}
    g = {r["vec_id"]: r["cell"] for r in gemm_df.collect()}
    assert e == g
