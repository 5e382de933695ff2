"""Skew-handling primitives: salted aggregation and salted broadcast join.

AQE's skew-join splitting handles most hot-key cases at runtime; these
helpers are the explicit, plan-level tools for the pathological cases AQE
can't fix — e.g. a groupBy where one key holds 30% of a 100 TB table, or a
shuffle join against a dimension too big to broadcast whole but with a
known-hot key set.

Both transformations are exact: results are identical to the unsalted
plan (proved by the equivalence tests), only the shuffle layout changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-stage aggregation with a random salt on the group key.

    ``aggs`` maps output column → (input column, fn) where fn ∈
    {sum, count, min, max}. Stage 1 aggregates (key, salt) — spreading a
    hot key over ``salt_buckets`` reducers — stage 2 re-aggregates partials
    by key alone (tiny input: #keys × salt rows). Decomposable aggregates
    only: count re-aggregates by sum, the rest by themselves.
    """
    stage1_fns = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    stage2_fns = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    for out, (col, fn) in aggs.items():
        if fn not in stage1_fns:
            raise ValueError(f"non-decomposable aggregate {fn!r} for {out!r}")
    salted = df.withColumn(
        "__salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    partial = salted.groupBy(*keys, "__salt").agg(
        *[stage1_fns[fn](col).alias(out) for out, (col, fn) in aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[stage2_fns[fn](out).alias(out) for out, (_, fn) in aggs.items()]
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    salt_buckets: int = 8,
) -> DataFrame:
    """Inner equi-join with the LEFT side's hot keys spread over salt
    buckets and the RIGHT side replicated ``salt_buckets``× to match.

    Use when the right side is small enough to replicate N× but the left
    key distribution is too skewed for a plain shuffle join (the classic
    fact⋈mid-size-dim hot-key case). Exact same rows as a plain join.
    """
    salted_left = left.withColumn(
        "__salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    replicated_right = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    # frame-qualified refs: with the usual same-named key on both sides an
    # unqualified F.col(key) is AMBIGUOUS_REFERENCE at analysis time
    joined = salted_left.join(
        replicated_right,
        (salted_left[left_key] == replicated_right[right_key])
        & (salted_left["__salt"] == replicated_right["__salt"]),
    )
    return joined.drop("__salt")
