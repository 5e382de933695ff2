"""Training-mixture construction: model-based quality scoring and
temperature-scaled source allocation.

Two stages every LM data pipeline runs after filtering/dedup:

- `quality_logreg`: score each document with a (stand-in) linear quality
  classifier — the fasttext/logreg pass that gates web text into the
  training mix. The model is a broadcast weight vector applied as one
  map-side expression; at 100 TB this is the canonical "apply a small
  model to every row" shape: weights ride the closure (or a broadcast
  variable), the scan stays whole-stage-codegen, and nothing shuffles
  until the per-source aggregate. The link function is the RATIONAL
  sigmoid 0.5 + 0.5*z/(1+|z|) — same monotonicity and [0,1] range as the
  logistic, but pure +,*,/,abs arithmetic, so both engines produce
  bit-identical doubles (exp() is correctly-rounded on neither libm and
  a last-ulp difference could flip a rounded output).

- `mixture_temperature`: per-source sampling allocation with temperature
  tau = 0.5 — weight_s ∝ n_s^tau, the standard flattening that keeps
  small sources represented (tau=1 is proportional, tau→0 uniform).
  tau = 0.5 makes the power a single IEEE `sqrt` (correctly rounded on
  every platform — pow(x, 0.7) is not), so weights are bit-exact
  cross-engine before any rounding. The per-source aggregate is
  O(#sources) rows; the normalizing sum rides an unpartitioned window
  over that aggregate only (the `mixture_weights` precedent — never
  over row-scale data).

Reference parity: the reference has no training-mixture surface; brief
extension ("operations a large-scale training-data pipeline would need").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from event_store_spark.functions.text import non_ascii_ratio, whitespace_tokens
from event_store_spark.plans.finalsort import catalog_sort
from event_store_spark.plans.registry import register
from event_store_spark.tables import load_table

#: "trained" classifier: weights over 4 engineered features + bias.
#: A real pipeline loads these from a model artifact; they are data here
#: because the shape (broadcast weights, map-side dot product) is the
#: point, not the values.
W_LEN, W_STOP, W_PUNCT, W_ASCII, BIAS = 2.0, 3.0, -4.0, -2.0, -0.5
SAMPLE_BUDGET = 10_000


def _rational_sigmoid(z: Column) -> Column:
    """0.5 + 0.5 * z / (1 + |z|): the bit-exact logistic surrogate."""
    return F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))


@register(
    "quality_logreg",
    oracle=f"""
    WITH f AS (SELECT source,
        least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) AS len_norm,
        least(CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                    t -> t IN ('the','and','of','to','is'))) AS DOUBLE)
              / greatest(len(string_split_regex(trim(text), '\\s+')), 1)
              * 5.0, 1.0) AS stop_norm,
        least(CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
              / greatest(length(text), 1) * 10.0, 1.0) AS punct_norm,
        length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g'))
              / CAST(greatest(length(text), 1) AS DOUBLE) AS ascii_ratio
        FROM documents),
    z AS (SELECT source,
                 {W_LEN} * len_norm + {W_STOP} * stop_norm
                 + {W_PUNCT} * punct_norm + {W_ASCII} * ascii_ratio
                 + {BIAS} AS z
          FROM f),
    s AS (SELECT source, 0.5 + 0.5 * z / (1.0 + abs(z)) AS score, z FROM z)
    SELECT source, COUNT(*) AS n_docs,
           CAST(COUNT(*) FILTER (z >= 0.0) AS BIGINT) AS n_kept,
           ROUND(AVG(score), 4) AS avg_score
    FROM s GROUP BY source ORDER BY source
    """,
)
def quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier scoring per document, rolled up per
    source: docs kept (decision boundary z >= 0, i.e. score >= 0.5) and
    the average score. One scan, map-side features and link, one
    partial→final aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    w = whitespace_tokens("text")
    len_norm = F.least(F.col("n_chars").cast("double") / 500.0, F.lit(1.0))
    stop_lit = F.array(*[F.lit(t) for t in ("the", "and", "of", "to", "is")])
    stop_norm = F.least(
        F.size(F.filter(w, lambda t: F.array_contains(stop_lit, t))).cast(
            "double"
        )
        / F.greatest(F.size(w), F.lit(1))
        * 5.0,
        F.lit(1.0),
    )
    punct_norm = F.least(
        F.size(F.regexp_extract_all("text", F.lit(r"[.,;:!?]"), F.lit(0))).cast(
            "double"
        )
        / F.greatest(F.length("text"), F.lit(1))
        * 10.0,
        F.lit(1.0),
    )
    z = (
        F.lit(W_LEN) * len_norm
        + F.lit(W_STOP) * stop_norm
        + F.lit(W_PUNCT) * punct_norm
        + F.lit(W_ASCII) * non_ascii_ratio("text")
        + F.lit(BIAS)
    )
    scored = docs.select(
        "source", z.alias("z"), _rational_sigmoid(z).alias("score")
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("z") >= 0.0).cast("bigint")).alias("n_kept"),
            F.round(F.avg("score"), 4).alias("avg_score"),
        )
        .transform(lambda d: catalog_sort(d, "source"))
    )


@register(
    "mixture_temperature",
    oracle=f"""
    WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents
               GROUP BY source),
    w AS (SELECT source, n_docs,
                 sqrt(CAST(n_docs AS DOUBLE))
                   / SUM(sqrt(CAST(n_docs AS DOUBLE))) OVER () AS weight
          FROM c)
    SELECT source, n_docs, ROUND(weight, 6) AS weight,
           CAST(FLOOR(ROUND(weight, 6) * {SAMPLE_BUDGET}) AS BIGINT)
               AS alloc
    FROM w ORDER BY source
    """,
)
def mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (tau = 0.5) per-source sampling allocation for a
    {SAMPLE_BUDGET}-doc budget. The window is over the O(#sources)
    aggregate only."""
    counts = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    wsum = Window.partitionBy()
    weight = F.sqrt(F.col("n_docs").cast("double")) / F.sum(
        F.sqrt(F.col("n_docs").cast("double"))
    ).over(wsum)
    return (
        counts.select(
            "source",
            "n_docs",
            F.round(weight, 6).alias("weight"),
            F.floor(F.round(weight, 6) * SAMPLE_BUDGET)
            .cast("bigint")
            .alias("alloc"),
        )
        .orderBy("source")
    )
