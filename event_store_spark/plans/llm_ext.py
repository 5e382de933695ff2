"""LLM-pipeline operator extensions: TF-IDF vocabulary, PII scrubbing,
dedup survivor listing.

Same design rules as plans.llm: built-in Catalyst expressions only, each
with a DuckDB oracle, never a global O(n²) stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from event_store_spark.functions.text import whitespace_tokens
from event_store_spark.plans.finalsort import catalog_sort
from event_store_spark.plans.registry import register
from event_store_spark.tables import load_table


@register(
    "tfidf_top_terms",
    oracle="""
    WITH tok AS (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\\s+')) AS term
                 FROM documents),
    tf AS (SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 2) AS tfidf
    FROM tf, n
    ORDER BY tfidf DESC, term LIMIT 20
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary by TF-IDF: term frequency × ln(N/df), top 20.

    One explode + one hash aggregate (tf and df combined in a single
    groupBy via countDistinct) + the scalar doc count as a broadcast
    cross-joined one-row aggregate — the whole operator is ONE Spark
    action (round 2 ran a separate driver-side `docs.count()` job first).
    """
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    tok = docs.select("doc_id", F.explode(whitespace_tokens("text")).alias("term"))
    tf = tok.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf"),
        F.countDistinct("doc_id").cast("bigint").alias("df"),
    )
    return (
        tf.crossJoin(F.broadcast(n))
        .select(
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("_n_docs") / F.col("df")), 2
            ).alias("tfidf"),
        )
        .orderBy(F.col("tfidf").desc(), "term")
        .limit(20)
    )


@register(
    "text_pii_scrub",
    oracle="""
    WITH scrubbed AS (
        SELECT doc_id, text,
               regexp_replace(regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
                   '[0-9][0-9][0-9][0-9]+', '<NUM>', 'g') AS clean
        FROM documents)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (clean <> text) AS BIGINT) AS docs_changed,
           CAST(SUM(octet_length(encode(text)) - octet_length(encode(clean)))
                AS BIGINT) AS bytes_delta
    FROM scrubbed
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: mask emails and long digit runs, report how many
    documents changed and the byte-size delta. Map-only regexp_replace
    inside codegen — the shape of every large-scale scrubbing job."""
    docs = load_table(spark, sf_dir, "documents")
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
        r"[0-9][0-9][0-9][0-9]+",
        "<NUM>",
    )
    scrubbed = docs.select("doc_id", "text", clean.alias("clean"))
    return scrubbed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count(F.when(F.col("clean") != F.col("text"), 1))
        .cast("bigint")
        .alias("docs_changed"),
        F.sum(
            F.length(F.encode("text", "UTF-8")) - F.length(F.encode("clean", "UTF-8"))
        )
        .cast("bigint")
        .alias("bytes_delta"),
    )


@register(
    "dedup_survivors",
    oracle="""
    SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS group_size
    FROM documents GROUP BY md5(text)
    ORDER BY keep_id LIMIT 100
    """,
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup survivor listing: the kept doc_id (MIN per content hash)
    and its duplicate-group size — the actual dedup output, not just counts
    (complements q30)."""
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("h"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).cast("bigint").alias("group_size"),
        )
        .select("keep_id", "group_size")
        .orderBy("keep_id")
        .limit(100)
    )


@register(
    "dedup_capped_survivors",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, substr(text, 1, 64) AS h,
               ROW_NUMBER() OVER (PARTITION BY substr(text, 1, 64)
                                  ORDER BY doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY substr(text, 1, 64)) AS group_size
        FROM documents)
    SELECT CAST(COUNT(*) FILTER (WHERE rn <= 2) AS BIGINT) AS n_kept,
           CAST(COUNT(*) FILTER (WHERE rn > 2) AS BIGINT) AS n_dropped,
           CAST(COUNT(DISTINCT h) FILTER (WHERE group_size > 2)
                AS BIGINT) AS n_capped_groups
    FROM ranked
    """,
)
def dedup_capped_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-capped dedup — keep at most CAP copies of each cluster
    (lowest doc_ids win), the bounded-repetition knob web pipelines use
    when limited duplication is desirable (repeating high-quality
    documents a bounded number of times) instead of full dedup's
    keep-one. Cluster key = the 64-char content prefix
    (`dedup_clusters`' blocking key — the fixture corpus has no full-
    content exact dups below sf0.1, so the prefix key is what makes the
    cap observable); swap in md5(text) for exact-only capping at web
    scale. Reports kept/dropped totals and how many clusters hit the
    cap.

    Plan: ONE shuffle on the content hash feeds a keyed rank window and
    the group size together; the final agg is a map-side-partial global
    fold of three counters — no second corpus scan, no pair join."""
    cap = 2
    w = Window.partitionBy("h").orderBy("doc_id")
    ranked = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.substring("text", 1, 64).alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("gs", F.count(F.lit(1)).over(Window.partitionBy("h")))
    )
    return ranked.agg(
        F.sum(F.when(F.col("rn") <= cap, 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(F.when(F.col("rn") > cap, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dropped"),
        F.count_distinct(F.when(F.col("gs") > cap, F.col("h")))
        .cast("bigint")
        .alias("n_capped_groups"),
    )


@register(
    "dedup_clusters",
    oracle="""
    WITH cand AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2
        FROM documents a JOIN documents b
          ON substr(a.text, 1, 64) = substr(b.text, 1, 64)
         AND a.doc_id < b.doc_id),
    edges AS (
        SELECT d1 AS src, d2 AS dst FROM cand
        UNION ALL SELECT d2, d1 FROM cand),
    reach AS (
        WITH RECURSIVE r(a, b) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.a, e.dst FROM r JOIN edges e ON r.b = e.src)
        SELECT a, MIN(b) AS cluster FROM r GROUP BY a)
    SELECT CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
           CAST(MAX(sz) AS INT) AS max_cluster_size,
           CAST(COUNT(DISTINCT CASE WHEN sz > 1 THEN cluster END) AS BIGINT)
               AS n_multi_clusters
    FROM (SELECT cluster, COUNT(*) AS sz FROM reach GROUP BY cluster) g
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution over prefix-64 candidate pairs.

    Key planning insight (round 5): "shares a 64-char prefix" is an
    EQUIVALENCE relation — reflexive, symmetric, transitive — so the
    transitive closure the oracle computes over the candidate graph is
    exactly the prefix groups themselves. No pair enumeration, no
    iteration, no bucket-size guard: ONE hash aggregate on the prefix
    (cluster label = min doc_id per group) gives identical results to the
    round-4 connected-components run at a fraction of the cost, and it
    scales as a single shuffle at any corpus size. The general
    `operators.graph.connected_components` (large-star/small-star,
    checkpointed) remains for candidate graphs that genuinely TRANSIT —
    non-equivalence blocking like MinHash bands — and is exercised by
    `dedup_minhash_clusters` / `dedup_minhash_survivors`. The oracle
    keeps the recursive-CTE closure, independently verifying the
    equivalence-relation shortcut against real transitive reachability.
    """
    docs = load_table(spark, sf_dir, "documents")
    # NULL texts stay SINGLETON clusters (review r5, experimentally
    # verified divergence): SQL equality never matches NULL = NULL, so the
    # oracle's candidate join leaves NULL-text docs unpaired — but a bare
    # groupBy would merge all NULL keys into one group. Grouping on
    # (is_null, key) with key = doc_id for NULL rows keeps each one alone
    # without any collision with real prefixes (the flag disambiguates).
    sizes = docs.groupBy(
        F.col("text").isNull().alias("_tn"),
        F.when(F.col("text").isNull(), F.col("doc_id").cast("string"))
        .otherwise(F.substring("text", 1, 64))
        .alias("p"),
    ).agg(F.count(F.lit(1)).alias("sz"), F.min("doc_id").alias("cluster"))
    # `cluster` is unique per row of `sizes` (prefix groups are disjoint),
    # so plain counts replace countDistinct — two distinct aggregates
    # would force Catalyst's Expand-based multi-distinct plan and an extra
    # exchange on a frame that can be corpus-sized (review r5)
    return sizes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.max("sz").cast("int").alias("max_cluster_size"),
        F.count(F.when(F.col("sz") > 1, 1)).cast("bigint").alias("n_multi_clusters"),
    )


def _register_dedup_minhash_clusters():
    """Registered at import like every other query; wrapped in a function
    only to keep the f-string oracle's constant interpolation local."""
    from event_store_spark.plans.llm import MINHASH_CAND_CTE, MINHASH_REACH_CTE

    oracle = f"""
    WITH {MINHASH_CAND_CTE},
    {MINHASH_REACH_CTE}
    SELECT CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
           CAST(MAX(sz) AS INT) AS max_cluster_size,
           CAST(COUNT(DISTINCT CASE WHEN sz > 1 THEN cluster END) AS BIGINT)
               AS n_multi_clusters
    FROM (SELECT cluster, COUNT(*) AS sz FROM reach GROUP BY cluster) g
    """

    @register("dedup_minhash_clusters", oracle=oracle)
    def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Duplicate-cluster resolution over the REAL near-dup graph: the
        MinHash-LSH candidate pairs (shared memoized build,
        `llm._minhash_candidates`) resolved into connected components by
        `operators.graph.connected_components` (large-star/small-star,
        checkpointed) — the production minhash-dedup pipeline's final
        stage, where A~B~C chains collapse to one cluster even when A and
        C share no LSH band.

        Unlike `dedup_clusters` (prefix blocking = an equivalence
        relation, components == buckets), band-graph components genuinely
        TRANSIT: this is the case the O(log n) star alternation exists
        for. Oracle: same minhash CTE as dedup_minhash_lsh + the
        recursive-CTE closure from dedup_clusters.
        """
        from event_store_spark.plans.llm import minhash_cc_labels

        labels = minhash_cc_labels(spark, sf_dir)
        sizes = labels.groupBy("cluster").agg(F.count(F.lit(1)).alias("sz"))
        return sizes.agg(
            F.countDistinct("cluster").cast("bigint").alias("n_clusters"),
            F.max("sz").cast("int").alias("max_cluster_size"),
            F.countDistinct(F.when(F.col("sz") > 1, F.col("cluster")))
            .cast("bigint")
            .alias("n_multi_clusters"),
        )


_register_dedup_minhash_clusters()


def _register_dedup_cluster_histogram():
    from event_store_spark.plans.llm import MINHASH_CAND_CTE, MINHASH_REACH_CTE

    oracle = f"""
    WITH {MINHASH_CAND_CTE},
    {MINHASH_REACH_CTE}
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM (SELECT cluster, COUNT(*) AS sz FROM reach GROUP BY cluster) g
    GROUP BY sz ORDER BY sz
    """

    @register("dedup_cluster_histogram", oracle=oracle)
    def dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Cluster-SIZE distribution of the MinHash near-dup graph — the
        report that tells a dedup pipeline whether duplication is
        long-tail boilerplate (many small clusters) or a few mega-groups
        (template farms), which decides survivor policy and whether the
        connected-components round budget is adequate. Rides the same
        memoized candidate build + component labels as
        `dedup_minhash_clusters`; one extra O(#clusters) aggregate."""
        from event_store_spark.plans.llm import minhash_cc_labels

        labels = minhash_cc_labels(spark, sf_dir)
        return (
            labels.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("cluster_size"))
            .groupBy("cluster_size")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
            .select(F.col("cluster_size").cast("bigint"), "n_clusters")
            .transform(lambda d: catalog_sort(d, "cluster_size"))
        )


_register_dedup_cluster_histogram()
