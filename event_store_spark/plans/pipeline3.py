"""Training-data pipeline operators, part 3: document chunking and
sequence packing — the two steps between a curated corpus and a training
batch stream.

- chunking: every document split into overlapping token windows (the
  embedding/pretraining chunk shape). Entirely map-side: tokenize once,
  generate window starts, slice — the expansion never leaves the executor;
  the only shuffle is the final per-lang aggregate.
- packing: greedy contiguous packing of documents into fixed-token-budget
  bins by running prefix sum — the scan-and-accumulate packing a
  distributed pipeline actually uses (first-fit bin packing is inherently
  sequential; prefix-sum packing is order-deterministic AND parallel: one
  partitioned window per lang). A document longer than the budget gets its
  own bin(s) without blocking the stream.

Both have exact DuckDB oracles (integer token counts, deterministic doc_id
order), so the driver hash-checks them like the rest of the inventory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from event_store_spark.functions.text import whitespace_tokens
from event_store_spark.plans.finalsort import catalog_sort
from event_store_spark.plans.registry import register
from event_store_spark.tables import load_table

CHUNK_TOKENS = 50
CHUNK_STRIDE = 40  # 10-token overlap
PACK_BUDGET = 4096


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


@register(
    "text_chunking",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang,
                      string_split_regex(trim(text), '\\s+') AS w
               FROM documents),
    c AS (SELECT doc_id, lang,
                 1 + (len(w) - 1) // {CHUNK_STRIDE}
                     AS n_chunks,
                 len(w) AS n_tok
          FROM t WHERE len(w) > 0)
    SELECT lang,
           CAST(SUM(n_chunks) AS BIGINT) AS total_chunks,
           CAST(COUNT(*) AS BIGINT) AS docs_chunked,
           CAST(MAX(n_chunks) AS BIGINT) AS max_chunks
    FROM c GROUP BY lang ORDER BY lang
    """,
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (50-token windows, stride 40)
    with per-lang chunk statistics.

    The chunk windows are REAL (generated + sliced per row, then counted)
    — not a closed-form count — so this plan is the actual chunker with an
    aggregate on top; the oracle validates via the closed form
    1 + floor((n_tok-1)/stride), which equals the generated window count
    for stride-covering windows. Map-side until the per-lang aggregate."""
    toks = _docs(spark, sf_dir).select(
        "doc_id", "lang", whitespace_tokens("text").alias("w")
    )
    chunks = (
        toks.where(F.size("w") > 0)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        ((F.size("w") - 1) / F.lit(CHUNK_STRIDE)).cast("bigint"),
                    ),
                    lambda i: F.slice(
                        F.col("w"), (i * CHUNK_STRIDE + 1).cast("int"), CHUNK_TOKENS
                    ),
                )
            ).alias("chunk"),
        )
    )
    return (
        chunks.groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("n_chunks"))
        .groupBy("lang")
        .agg(
            F.sum("n_chunks").cast("bigint").alias("total_chunks"),
            F.count(F.lit(1)).cast("bigint").alias("docs_chunked"),
            F.max("n_chunks").cast("bigint").alias("max_chunks"),
        )
        .transform(lambda d: catalog_sort(d, "lang"))
    )


@register(
    "seq_packing",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang,
                      len(string_split_regex(trim(text), '\\s+')) AS n_tok
               FROM documents),
    p AS (SELECT lang, n_tok,
                 SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum
          FROM t),
    b AS (SELECT lang, n_tok, (cum - 1) // {PACK_BUDGET} AS pack FROM p)
    SELECT lang,
           CAST(COUNT(DISTINCT pack) AS BIGINT) AS n_packs,
           CAST(MAX(cnt) AS BIGINT) AS max_docs_per_pack,
           CAST(MIN(tok) AS BIGINT) AS min_pack_tokens
    FROM (SELECT lang, pack, COUNT(*) AS cnt, SUM(n_tok) AS tok
          FROM b GROUP BY lang, pack)
    GROUP BY lang ORDER BY lang
    """,
)
def seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-sum sequence packing: documents stream into 4096-token
    bins in deterministic doc_id order per lang
    (pack = (running-token-total − 1) div budget).

    One partitioned window per lang computes every assignment in parallel —
    no sequential first-fit loop, no driver iteration; the same prefix-sum
    trick packs a 100 TB corpus with one shuffle per partition key. The
    closing aggregate reports packs/lang with fill stats (the last pack per
    lang is legitimately short — min_pack_tokens surfaces it)."""
    toks = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.size(whitespace_tokens("text")).alias("n_tok")
    )
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    packed = toks.select(
        "lang",
        "n_tok",
        (((F.sum("n_tok").over(w)) - 1) / F.lit(PACK_BUDGET))
        .cast("bigint")
        .alias("pack"),
    )
    return (
        packed.groupBy("lang", "pack")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("n_tok").alias("tok"))
        .groupBy("lang")
        .agg(
            F.countDistinct("pack").cast("bigint").alias("n_packs"),
            F.max("cnt").cast("bigint").alias("max_docs_per_pack"),
            F.min("tok").cast("bigint").alias("min_pack_tokens"),
        )
        .transform(lambda d: catalog_sort(d, "lang"))
    )


@register(
    "text_unigram_logprob",
    oracle="""
    WITH tok AS (SELECT doc_id, lang,
                        UNNEST(string_split_regex(trim(text), '\\s+')) AS t
                 FROM documents),
    vocab AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
    n AS (SELECT SUM(cnt) AS total FROM vocab),
    scored AS (SELECT k.doc_id, k.lang,
                      AVG(-LN(CAST(v.cnt AS DOUBLE) / n.total)) AS nll
               FROM tok k JOIN vocab v ON k.t = v.t, n
               GROUP BY k.doc_id, k.lang),
    banded AS (SELECT lang, CAST(FLOOR(ROUND(nll, 6)) AS BIGINT) AS nll_band
               FROM scored)
    SELECT lang, nll_band, COUNT(*) AS n_docs
    FROM banded GROUP BY lang, nll_band ORDER BY lang, nll_band
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-proxy quality scoring (the CCNet idea with the corpus itself as
    the language model): per-document average unigram negative
    log-likelihood, banded into integer buckets per lang — gibberish and
    boilerplate land in opposite tails.

    Two aggregations composed in ONE plan: the unigram vocabulary (token →
    count, one shuffle) joins back onto the token stream (broadcast-sized
    at any realistic vocabulary: Zipf keeps distinct tokens << corpus
    tokens), with the corpus total riding along as a broadcast scalar.
    Banding to integers (floor of the 6dp-rounded nll) makes the oracle
    comparison exact: the 6dp round pins the last-bit noise parallel
    aggregation order injects on BOTH engines before the floor."""
    toks = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.explode(whitespace_tokens("text")).alias("t")
    )
    vocab = toks.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    scored = (
        toks.join(F.broadcast(vocab), "t")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id", "lang")
        .agg(
            F.avg(-F.log(F.col("cnt").cast("double") / F.col("total"))).alias("nll")
        )
    )
    return (
        scored.select(
            "lang", F.floor(F.round("nll", 6)).cast("bigint").alias("nll_band")
        )
        .groupBy("lang", "nll_band")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .transform(lambda d: catalog_sort(d, "lang", "nll_band"))
    )
