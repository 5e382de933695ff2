"""BM25 top-k queries over the documents corpus: the index-free scan form
and the probe of the persisted postings index (`plans.ir`).

The query-serving half of the text-index family (`tfidf_top_terms` is the
indexing half): score every document against a multi-term query with
Okapi BM25 and return the top-10. `bm25_topk` is the inverted-index probe
re-expressed scan-side:

- ONE tokenization pass computes per-doc length and the per-(doc, term)
  term frequencies for QUERY TERMS ONLY — the filter against the
  broadcast-literal term list runs inside the same projection as the
  explode, so everything that isn't a query term dies map-side and the
  only shuffled stream is O(matching postings), exactly what an inverted
  index would have read;
- corpus stats (N, avgdl) are a one-row broadcast aggregate, document
  frequencies a <= |terms|-row broadcast — the same O(model) driver-free
  state pattern as the ANN codebooks;
- the final per-doc score sum is one hash aggregate + TakeOrdered.

`bm25_postings_topk` serves the same scores from the pre-built postings
table (`plans.ir.PostingsIndex`); `bm25_topk` stays registered for corpora
nobody indexed. Both share one oracle. Ties (same rounded score) break to
the lower doc_id so the top-k is total-ordered cross-engine.

Reference parity: the reference has no text retrieval; LLM-pipeline
surface extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_store_spark.plans.ir import (
    BM25_B,
    BM25_K1,
    BM25_TOPK,
    QUERY_TERMS,
    bm25_index,
)
from event_store_spark.plans.registry import register
from event_store_spark.tables import load_table

_TERMS_SQL = ", ".join(f"'{t}'" for t in QUERY_TERMS)

_ORACLE = f"""
    WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
                 FROM documents),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(len(w)) AS avgdl FROM tok),
    tf AS (SELECT doc_id, len(w) AS dl, t, COUNT(*) AS tf
           FROM (SELECT doc_id, w, UNNEST(w) AS t FROM tok)
           WHERE t IN ({_TERMS_SQL})
           GROUP BY doc_id, len(w), t),
    df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
    scored AS (SELECT f.doc_id,
        SUM(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
            * f.tf * ({BM25_K1} + 1.0)
            / (f.tf + {BM25_K1} * (1.0 - {BM25_B}
               + {BM25_B} * f.dl / s.avgdl))) AS score
        FROM tf f JOIN df d USING (t), stats s
        GROUP BY f.doc_id)
    SELECT doc_id, ROUND(score, 4) AS score
    FROM scored ORDER BY score DESC, doc_id LIMIT {BM25_TOPK}
    """


@register("bm25_topk", oracle=_ORACLE)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for the literal query terms: idf as
    ln((N − df + ½)/(df + ½) + 1), tf saturation k1 = 1.2, length
    normalization b = 0.75."""
    docs = load_table(spark, sf_dir, "documents")
    terms = F.array(*[F.lit(t) for t in QUERY_TERMS])
    tok = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("w")
    )
    stats = tok.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size("w").cast("double")).alias("avgdl"),
    )
    tf = (
        tok.select(
            "doc_id",
            F.size("w").alias("dl"),
            # drop non-query terms BEFORE the explode: the generated row
            # stream is O(matching postings), not O(corpus tokens)
            F.explode(
                F.filter(F.col("w"), lambda t: F.array_contains(terms, t))
            ).alias("t"),
        )
        .groupBy("doc_id", "dl", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    contrib = idf * F.col("tf") * (BM25_K1 + 1.0) / (
        F.col("tf")
        + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(df), "t")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(contrib).alias("_s"))
        .select("doc_id", F.round("_s", 4).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(BM25_TOPK)
    )


@register("bm25_postings_topk", oracle=_ORACLE)
def bm25_postings_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`bm25_topk` served from the PERSISTED postings index (VERDICT r8
    #6): the probe filters on the query terms' crc32 buckets — a
    PartitionFilters prune at the parquet scan, the distributed analog
    of an inverted index seek — so it reads O(query terms' postings)
    bytes, never the corpus. Document frequencies fall out of the rows
    actually read; (n_docs, avgdl) ride from meta.json as literals.
    Same scoring arithmetic and oracle as the scan form; the scan form
    measured 12× the oracle at the 100× point (14.8 s vs 1.2) where this
    probe reads 3 of 64 partitions. avgdl folds from exact integer
    (n_docs, sum_dl) stats, so the appended-index probe and a rebuild
    score identically."""
    return bm25_index(spark, sf_dir).probe(QUERY_TERMS, BM25_TOPK)
