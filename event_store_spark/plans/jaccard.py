"""Exact distinct-3-gram Jaccard verification with an O(1)-per-doc
payload (VERDICT r8 #2).

The MinHash families verify LSH candidates with exact Jaccard. Joining
candidate pairs back to full per-doc distinct-gram ARRAYS (the r1–r8
form) moves a payload that grows with document length × corpus — at the
100× point that join dominated `dedup_incremental` (38.5 s vs the
oracle's 10.7) and `dedup_minhash_verified` (42.0 vs 24.1). This module
bounds the verify payload without giving up exactness:

- per doc, ONE map-side projection computes the sorted distinct gram
  xxhash64 array, its exact size ``n``, and the K smallest hashes
  (``slice`` after ``array_sort``) — a fixed-width sketch of at most
  K longs (2 KiB at K=256), computed with no shuffle and no
  aggregation;
- a pair where BOTH docs have n ≤ K needs nothing else: the sketch IS
  the full distinct-gram set, so ``array_intersect`` on the sketches is
  the exact intersection — this is the whole corpus in the fixtures
  (max 98 distinct grams/doc) and the overwhelming mass of any web
  corpus at K=256;
- pairs touching an OVERSIZED doc (n > K) re-check exactly through the
  inverted-index row form: gram rows are materialized ONLY for the docs
  appearing in such pairs (semi-join), and the intersection is a
  fixed-width (pair, 8-byte hash) equi-join count — never an array
  payload;
- with a decision threshold (``min_jaccard``), the exact size bound
  jac ≤ min(n_a, n_b) / max(n_a, n_b) prunes non-qualifying pairs from
  BOTH paths before any intersection work (epsilon-padded so a
  boundary pair is never lost to float rounding).

Grams travel as xxhash64 longs under the repo's standard convention
(join/compare keys only, never output — equality up to 2^-64
collisions), which also shrinks what the sketch holds 5× vs gram
strings.

Exactness vs the DuckDB oracles is pinned by the registered queries'
oracle rows; the hard-path ≡ easy-path equivalence is pinned by
tests/test_jaccard_verify.py at a forced-small K.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_store_spark.functions.text import (
    whitespace_tokens,
    word_ngram_hashes,
)

#: sketch width: docs with more distinct grams than this take the exact
#: row-join path; everything else verifies from the fixed-width sketch
VERIFY_SKETCH_K = 256


def _sketch_projection(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, _n, _sk): the one shared sketch formula — the persisted
    side table and the ad-hoc (cached) path both derive from it."""
    return (
        docs.select("doc_id", whitespace_tokens("text").alias("w"))
        .select(
            "doc_id",
            F.array_sort(
                F.array_distinct(word_ngram_hashes("w", 3))
            ).alias("gs"),
        )
        .select(
            "doc_id",
            F.size("gs").alias("_n"),
            F.slice("gs", 1, k).alias("_sk"),
        )
    )


def verify_sketches(
    spark: SparkSession, sf_dir: str, k: int = VERIFY_SKETCH_K
) -> DataFrame:
    """The PERSISTED verify-sketch side table for a fixture corpus —
    (doc_id, _n, _sk) parquet, a `tables.side_table` keyed by the corpus
    identity and ``k``, memoized per session like every other one.

    A production dedup pipeline persists these next to the LSH
    signatures it already stores; building them per session charged an
    ingest cost to the first query that verified (the 100× dossier's
    reps=1 row recorded 43.9 s for dedup_incremental where the warm
    probe runs 9.6 s). The bench warm hooks materialize this table under
    the same write-path accounting as the typed events and the BM25
    postings."""
    from event_store_spark.tables import load_table, memo, side_table

    def write(out: str) -> None:
        _sketch_projection(
            load_table(spark, sf_dir, "documents"), k
        ).repartition(8).write.mode("overwrite").parquet(out)

    return memo(
        spark,
        (verify_sketches, sf_dir, k),
        lambda: spark.read.parquet(
            side_table(spark, sf_dir, "documents", f"sk-k{k}", write)
        ),
    )


def exact_jaccard(
    docs: DataFrame,
    pairs: DataFrame,
    a: str,
    b: str,
    min_jaccard: float | None = None,
    k: int = VERIFY_SKETCH_K,
    sketches: DataFrame | None = None,
) -> DataFrame:
    """(a, b, n_a, n_b, inter, jac): exact distinct-3-gram Jaccard for
    every candidate pair (modulo the 2^-64 gram-hash convention; pairs
    pruned by the size bound when ``min_jaccard`` is given cannot reach
    it and are dropped).

    ``docs`` must carry (doc_id, text); ``pairs`` exactly the two id
    columns ``a`` and ``b``. jac is 0.0 when the union is empty (the
    oracle's CASE WHEN uni > 0 convention).

    With ``sketches`` (a (doc_id, _n, _sk) frame — normally the
    PERSISTED side table from `verify_sketches`), the sketch build is
    skipped entirely: the registered queries pass it so the verify scans
    the stored index, which is the production cost model. Without it
    (ad-hoc corpora, arriving batches), the sketch table is computed
    here and `.cache()`d: the plan references it from both join sides
    and from the hard branch, and without the cache each reference
    re-runs the tokenize+hash projection over the corpus (measured
    13.4 s vs 0.5 s for one pass at the 10× fixture). Spark's
    CacheManager keys on the canonicalized logical plan, so repeated
    calls over the same corpus share one materialization.
    """
    sk = sketches if sketches is not None else _sketch_projection(
        docs, k
    ).cache()
    ska = sk.select(
        F.col("doc_id").alias(a),
        F.col("_n").alias("n_a"),
        F.col("_sk").alias("sk_a"),
    )
    skb = sk.select(
        F.col("doc_id").alias(b),
        F.col("_n").alias("n_b"),
        F.col("_sk").alias("sk_b"),
    )
    p = pairs.select(a, b).join(ska, a).join(skb, b)
    if min_jaccard is not None:
        # jac ≤ min(n_a,n_b)/max(n_a,n_b): a pair failing the bound can
        # never verify. ε pads the correctly-rounded double divide so a
        # pair sitting exactly on the threshold always survives pruning.
        p = p.where(
            F.least("n_a", "n_b").cast("double")
            / F.greatest("n_a", "n_b")
            >= F.lit(min_jaccard) - F.lit(1e-9)
        )
    easy = (
        p.where((F.col("n_a") <= k) & (F.col("n_b") <= k))
        .withColumn("inter", F.size(F.array_intersect("sk_a", "sk_b")))
        .select(a, b, "n_a", "n_b", "inter")
    )
    hard = p.where((F.col("n_a") > k) | (F.col("n_b") > k)).select(
        a, b, "n_a", "n_b"
    )
    ids = (
        hard.select(F.col(a).alias("doc_id"))
        .unionByName(hard.select(F.col(b).alias("doc_id")))
        .distinct()
    )
    # gram ROWS only for docs appearing in hard pairs: the corpus scan
    # semi-joins down to them BEFORE tokenizing, so the row path costs
    # O(hard docs), and with no hard pairs AQE collapses it to empty
    rows = (
        docs.join(ids, "doc_id", "left_semi")
        .select("doc_id", whitespace_tokens("text").alias("w"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(word_ngram_hashes("w", 3))
            ).alias("_g"),
        )
    )
    inter_hard = (
        hard.select(a, b)
        .join(rows.select(F.col("doc_id").alias(a), "_g"), a)
        .join(rows.select(F.col("doc_id").alias(b), "_g"), [b, "_g"])
        .groupBy(a, b)
        .agg(F.count(F.lit(1)).cast("int").alias("inter"))
    )
    hard_done = hard.join(inter_hard, [a, b], "left").select(
        a, b, "n_a", "n_b", F.coalesce("inter", F.lit(0)).alias("inter")
    )
    both = easy.unionByName(hard_done)
    uni = F.col("n_a") + F.col("n_b") - F.col("inter")
    return both.withColumn(
        "jac",
        F.when(uni > 0, F.col("inter").cast("double") / uni).otherwise(
            F.lit(0.0)
        ),
    )
