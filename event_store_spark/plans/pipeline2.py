"""Training-data pipeline operators, part 2: intra-document repetition
scoring, deterministic dataset splits, and domain mixing weights.

Complements `plans/pipeline.py` (sampling/quota/contamination/gating) with
the remaining selection-and-mixing steps a pretraining pipeline runs:

- repetition: Gopher-style duplicated-5-gram fraction per document — the
  strongest single cheap signal for boilerplate/spam. Entirely map-side:
  tokenize → gram → distinct-count per row, no shuffle until the final agg.
- split: every document deterministically assigned to train/val/test by an
  md5 threshold on its id — coordination-free, stable under corpus growth
  (a doc never migrates between splits when new data arrives), the property
  leakage-free eval demands.
- mixing: per-source token shares and the resampling weight that flattens
  them to a target mixture — the static reweighting step of mixture tuning.

All integer-scaled (basis points) before aggregation so the DuckDB oracle
comparison is exact: per-row fractions are rationals of identical doubles,
rounded to int per row, THEN averaged — immune to summation-order FP drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_store_spark.plans.finalsort import catalog_sort
from event_store_spark.plans.registry import register
from event_store_spark.tables import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


@register(
    "text_repetition",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ), g AS (
        SELECT doc_id, lang,
               list_transform(generate_series(1, len(w) - 4),
                              i -> array_to_string(w[i:i+4], ' ')) AS grams
        FROM t WHERE len(w) >= 5
    ), scored AS (
        SELECT lang,
               CAST(FLOOR(10000 * (1 - CAST(len(list_distinct(grams)) AS DOUBLE)
                                       / len(grams))) AS BIGINT) AS dup_bp
        FROM g
    )
    SELECT lang,
           COUNT(*) AS docs,
           CAST(FLOOR(AVG(dup_bp)) AS BIGINT) AS avg_dup_5gram_bp,
           CAST(SUM(CASE WHEN dup_bp > 3000 THEN 1 ELSE 0 END) AS BIGINT)
               AS high_repetition_docs
    FROM scored GROUP BY lang ORDER BY lang
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-5-gram fraction per doc (basis points), rolled up per lang.

    The Gopher/C4 repetition rule: a document whose word 5-grams repeat
    heavily is boilerplate or spam. Per row: tokenize, form the n-4 sliding
    5-grams with `transform(sequence(...))` (JVM expressions, no UDF, no
    explode — the gram array never leaves the row), score
    1 − distinct/total, scale to integer basis points (floored — identical across engines, no round-half ties). The only shuffle is
    the final per-lang hash agg; at 100 TB the scoring is embarrassingly
    map-parallel and column-pruned to (text, lang).

    Two evaluation-cost rules this plan encodes (measured 1.65 s → 0.46 s
    at sf0.1, PERF.md): (1) the token array is PROJECTED before the lambda
    references it — higher-order-function lambdas are interpreted, so a
    `split()` inlined in the lambda body re-tokenizes the full text once
    per gram (O(grams × tokens) instead of O(tokens)); (2) each gram is an
    `xxhash64` of its 5 token slots, not a concatenated string — the
    distinct-count is identical (within-row 64-bit collisions: P ≈ 1e-15
    per doc) and the array_distinct compares longs, no string allocs. The
    hash never leaves the row, so the DuckDB oracle still compares the
    true string grams."""
    toks = F.split(F.col("text"), " ")
    grams = F.expr(
        "transform(sequence(0, size(w) - 5),"
        " i -> xxhash64(w[i], w[i+1], w[i+2], w[i+3], w[i+4]))"
    )
    dup_bp = F.floor(
        10000
        * (
            1
            - F.size(F.array_distinct(F.col("grams")))
            / F.size(F.col("grams"))
        )
    ).cast("long")
    return (
        _docs(spark, sf_dir)
        .select("lang", toks.alias("w"))
        .where(F.size("w") >= 5)
        .select("lang", grams.alias("grams"))
        .select("lang", dup_bp.alias("dup_bp"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.floor(F.avg("dup_bp")).cast("long").alias("avg_dup_5gram_bp"),
            F.sum(F.when(F.col("dup_bp") > 3000, 1).otherwise(0))
            .cast("long")
            .alias("high_repetition_docs"),
        )
        .transform(lambda d: catalog_sort(d, "lang"))
    )


@register(
    "dataset_split",
    oracle="""
    WITH assigned AS (
        SELECT CASE
                 WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                   THEN 'train'
                 WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3'
                   THEN 'val'
                 ELSE 'test'
               END AS split,
               n_chars
        FROM documents
    )
    SELECT split, COUNT(*) AS docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM assigned GROUP BY split ORDER BY split
    """,
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~90/5/5 train/val/test assignment by md5(doc_id).

    The split is a pure row-local function of the document id (hex-prefix
    thresholds: 0xe6/256 ≈ 89.8 % train, 0xf3 ≈ +5.1 % val, rest test), so
    it is reproducible across engines and runs, needs no RNG state or
    coordination, and — the property eval hygiene depends on — is stable
    under corpus growth: re-running on 10× the data never moves an existing
    document across the train/test boundary. Map-side assignment; one hash
    agg for the summary."""
    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(prefix < "e6", "train").when(prefix < "f3", "val").otherwise("test")
    )
    return (
        _docs(spark, sf_dir)
        .select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_chars").cast("long").alias("chars"),
        )
        .transform(lambda d: catalog_sort(d, "split"))
    )


@register(
    "mixture_weights",
    oracle="""
    WITH per_source AS (
        SELECT source,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
        FROM documents GROUP BY source
    ), tot AS (
        SELECT source, tokens,
               CAST(SUM(tokens) OVER () AS DOUBLE) AS all_tokens,
               COUNT(*) OVER () AS n_sources
        FROM per_source
    )
    SELECT source, tokens,
           CAST(FLOOR(10000 * tokens / all_tokens) AS BIGINT) AS share_bp,
           CAST(FLOOR(10000 * (all_tokens / n_sources) / tokens) AS BIGINT)
               AS uniform_weight_bp
    FROM tot ORDER BY source
    """,
)
def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token share and the resampling weight that flattens the
    mixture to uniform (weight = target_share / actual_share, in basis
    points) — the static domain-reweighting step of mixture tuning.

    Shape at scale: one map-side token count, one hash agg to O(#sources)
    rows, then an unpartitioned window over those few rows — the single-
    reducer window is over the AGGREGATED frame (sources, not documents),
    so it is O(#domains) regardless of corpus size."""
    from pyspark.sql import Window as W

    per_source = (
        _docs(spark, sf_dir)
        .select("source", F.size(F.split(F.col("text"), " ")).alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").cast("long").alias("tokens"))
    )
    w = W.partitionBy()
    all_tokens = F.sum("tokens").over(w).cast("double")
    n_sources = F.count(F.lit(1)).over(w)
    return per_source.select(
        "source",
        "tokens",
        F.floor(10000 * F.col("tokens") / all_tokens)
        .cast("long")
        .alias("share_bp"),
        F.floor(10000 * (all_tokens / n_sources) / F.col("tokens"))
        .cast("long")
        .alias("uniform_weight_bp"),
    ).orderBy("source")
