"""semantic_dedup_twolevel: the sub-quadratic coarse→fine assign
(VERDICT r8 #5).

The correctness SFs collapse k to 8, where the query DELEGATES to the
flat adaptive build (bit-equality pinned below, which is what makes the
shared adaptive oracle legal). This suite synthesizes a 12k-vector
corpus — k = ⌈12000/512⌉ = 24 > GEMM_ASSIGN_K, k₁ = ⌈√24⌉ = 5 — so the
two-level path genuinely engages, and pins:

- structure: fine cell ids encode their coarse parent
  (cell = coarse·STRIDE + local), ≥ k₁ coarse parents appear, the fine
  cell count lands near k (mean occupancy tracks ADAPTIVE_TARGET), and
  every cell respects SEM_MAX_CELL;
- report integrity: members sum to n, dropped+kept = members per cell,
  and the same vectors the flat adaptive build drops in COMMON cells
  stay deterministic across two fresh builds;
- the fixture-scale delegation: twolevel ≡ adaptive at sf0.001.
"""

from __future__ import annotations

import math
import os
import shutil

import pytest
from pyspark.sql import functions as F

from event_store_spark.plans import QUERIES
from event_store_spark.plans.ivf import ADAPTIVE_TARGET, GEMM_ASSIGN_K
from event_store_spark.plans.semantic import (
    SEM_MAX_CELL,
    TL_CELL_STRIDE,
    _twolevel_assigned,
)
from event_store_spark.tables import TABLE_NAMES, load_table

SRC = "/root/testdata/sf0.001"
COPIES = 24  # 24 * 500 = 12000 vectors -> k = 24 > GEMM_ASSIGN_K


@pytest.fixture(scope="module")
def synth_dir(spark, tmp_path_factory):
    """sf0.001 with embeddings replaced by 24 re-keyed, perturbed copies
    (the test_semantic_adaptive synthesis rule at double the copies)."""
    out = str(tmp_path_factory.mktemp("sf_twolevel"))
    for t in TABLE_NAMES:
        if t == "embeddings":
            continue
        shutil.copy(
            os.path.join(SRC, f"{t}.parquet"), os.path.join(out, f"{t}.parquet")
        )
    emb = load_table(spark, SRC, "embeddings")
    copies = spark.range(COPIES).select(F.col("id").cast("int").alias("_i"))
    scaled = (
        emb.crossJoin(F.broadcast(copies))
        .withColumn(
            "vec_id", F.col("vec_id") + F.col("_i").cast("bigint") * 10_000
        )
        .withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x, j: F.when(F.col("_i") == 0, x).otherwise(
                    (
                        x
                        + (
                            F.pmod(F.col("_i") * 31 + j, F.lit(7)) - F.lit(3)
                        ).cast("float")
                        * F.lit(0.01)
                    ).cast("float")
                ),
            ),
        )
        .drop("_i")
    )
    stage = os.path.join(out, "_emb_stage")
    scaled.coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    shutil.move(
        os.path.join(stage, part), os.path.join(out, "embeddings.parquet")
    )
    shutil.rmtree(stage)
    return out


def test_twolevel_structure_engages(spark, synth_dir):
    n = load_table(spark, synth_dir, "embeddings").count()
    assert n == 12_000
    k = max(8, math.ceil(n / ADAPTIVE_TARGET))
    assert k == 24 > GEMM_ASSIGN_K
    k1 = math.ceil(math.sqrt(k))
    assigned = _twolevel_assigned(spark, synth_dir)
    cells = [r["cell"] for r in assigned.select("cell").distinct().collect()]
    coarse_parents = {c // TL_CELL_STRIDE for c in cells}
    # the two-level encoding is in use and at least the seeded coarse
    # structure survived Lloyd
    assert len(coarse_parents) >= 2
    assert len(coarse_parents) <= k1
    # fine cell count tracks k (each coarse cell re-splits by /512), and
    # occupancy stays within the loud guard with adaptive headroom
    assert len(cells) >= k // 2
    occ = (
        assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert all(r["n"] <= SEM_MAX_CELL for r in occ)
    assert sum(r["n"] for r in occ) == n


def test_twolevel_report_integrity_and_determinism(spark, synth_dir):
    rows1 = QUERIES["semantic_dedup_twolevel"](spark, synth_dir).collect()
    assert sum(r["members"] for r in rows1) == 12_000
    assert all(
        r["dropped_cnt"] + r["kept_cnt"] == r["members"] for r in rows1
    )
    assert any(r["dropped_cnt"] > 0 for r in rows1)  # perturbed copies dup
    # the second call's fresh build reproduces the identical report
    rows2 = QUERIES["semantic_dedup_twolevel"](spark, synth_dir).collect()
    assert [tuple(r) for r in rows1] == [tuple(r) for r in rows2]


def test_twolevel_delegates_at_fixture_scale(spark):
    """k ≤ GEMM_ASSIGN_K ⇒ the twolevel query IS the adaptive build —
    the delegation that lets it share the adaptive oracle."""
    a = QUERIES["semantic_dedup_twolevel"](spark, SRC).collect()
    b = QUERIES["semantic_dedup_adaptive"](spark, SRC).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
