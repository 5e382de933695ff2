"""Multi-probe ANN semantics: probes > 1 and recall ≥ single-bucket.

The oracle-parity suite already checks ann_multiprobe_topk's values; these
tests pin the *approximation* properties the oracle can't express."""

from __future__ import annotations

from pyspark.sql import functions as F

from event_store_spark.plans import QUERIES


def _top5(spark, sf, name):
    return [(r["vec_id"], r["sim"]) for r in QUERIES[name](spark, sf).collect()]


def test_multiprobe_probes_five_distinct_buckets(spark, sf_correct):
    """The exploded probe set is the query bucket + its 4 Hamming-1 flips."""
    from event_store_spark.plans.llm import _flip_bit
    from event_store_spark.functions.vectors import as_double
    from event_store_spark.tables import load_table

    emb = load_table(spark, sf_correct, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    bucket = F.concat(
        *[
            F.when(F.col("v")[p * 16] >= F.col("v")[p * 16 + 8], "1").otherwise("0")
            for p in range(4)
        ]
    )
    tb = emb.withColumn("bucket", bucket).where(F.col("vec_id") == 0).select(
        F.col("bucket").alias("tb")
    )
    probes = tb.select(
        F.explode(
            F.array(F.col("tb"), *[_flip_bit(F.col("tb"), i) for i in range(4)])
        ).alias("pb")
    )
    vals = [r["pb"] for r in probes.collect()]
    assert len(vals) == 5
    assert len(set(vals)) == 5  # all probes distinct → join needs no dedup
    home = vals[0]
    for p in vals[1:]:  # each flip is exactly Hamming distance 1 from home
        assert sum(a != b for a, b in zip(home, p)) == 1


def test_multiprobe_recall_at_least_single_bucket(spark, sf_correct):
    """Multi-probe candidates ⊇ single-bucket candidates, so its top-5 vs
    the exact q33 top-5 can only match or improve — never regress."""
    exact = {v for v, _ in _top5(spark, sf_correct, "q33")}
    single = _top5(spark, sf_correct, "ann_lsh_topk")
    multi = _top5(spark, sf_correct, "ann_multiprobe_topk")
    recall_single = len({v for v, _ in single} & exact)
    recall_multi = len({v for v, _ in multi} & exact)
    assert recall_multi >= recall_single
    # elementwise: the k-th best multiprobe sim dominates the k-th single
    for (_, s_multi), (_, s_single) in zip(multi, single):
        assert s_multi >= s_single


def test_embedding_dedup_bucket_guard_trips_on_pathological_bucket(spark):
    """A bucket larger than max_bucket fails fast inside the executed plan
    instead of silently enumerating a quadratic pair join."""
    import pytest
    from pyspark.sql import functions as F

    from event_store_spark.plans.llm import embedding_near_dup_pairs

    # 6 identical vectors → one bucket of 6 > max_bucket=5
    emb = spark.range(6).select(
        F.col("id").alias("vec_id"),
        F.lit([1.0] * 64).alias("v"),
    )
    with pytest.raises(Exception, match="max_bucket=5"):
        embedding_near_dup_pairs(emb, max_bucket=5).collect()
    # under the bound the same frame enumerates pairs normally
    ok = embedding_near_dup_pairs(emb, max_bucket=6, k=100).collect()
    assert len(ok) == 15  # C(6,2) pairs, all sim == 1.0


def test_spilled_assignment_rank1_equals_primary_and_cells_distinct(spark, sf_smoke):
    """assign_spilled's rank=1 row IS _assign's cell for every vector, and
    each vector lands in exactly `spill` DISTINCT cells."""
    from event_store_spark.plans.ivf import _assign, _ivf_index, assign_spilled

    centroids, assigned = _ivf_index(spark, sf_smoke, "full")
    emb = assigned.select("vec_id", "v")
    sp = assign_spilled(emb, centroids, spill=2)
    primary = {r.vec_id: r.cell for r in _assign(emb, centroids).collect()}
    rows = sp.collect()
    by_vec = {}
    for r in rows:
        by_vec.setdefault(r.vec_id, {})[r.rank] = r.cell
    assert set(by_vec) == set(primary)
    for vid, ranks in by_vec.items():
        assert set(ranks) == {1, 2}
        assert ranks[1] == primary[vid]
        assert ranks[1] != ranks[2]


def test_spilled_probe_lifts_recall_on_boundary_vector(spark):
    """A vector sitting just across the cell boundary from the query is
    invisible to an unspilled nprobe=1 probe but present in the spilled
    index — the exact recall failure SOAR-style spilling removes."""
    from event_store_spark.plans.ivf import assign_spilled

    # two well-separated centroids on the x axis; the query lives in cell
    # 0, its TRUE nearest neighbor sits barely inside cell 1's half-space
    centroids = [(0, [-1.0, 0.0]), (1, [1.0, 0.0])]
    rows = [
        (0, [-0.2, 0.0]),   # query: cell 0
        (1, [0.05, 0.0]),   # true NN: just right of the boundary -> cell 1
        (2, [-1.1, 0.0]),   # deep cell-0 vector
        (3, [1.2, 0.0]),    # deep cell-1 vector
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, v array<double>")
    sp = assign_spilled(emb, centroids, spill=2)
    primary_c0 = {
        r.vec_id for r in sp.where("rank = 1 AND cell = 0").collect()
    }
    spilled_c0 = {r.vec_id for r in sp.where("cell = 0").collect()}
    assert 1 not in primary_c0      # unspilled probe of cell 0 misses the NN
    assert 1 in spilled_c0          # spilled probe finds it
    assert {0, 2} <= primary_c0     # and the natives are still there
