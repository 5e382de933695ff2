"""Tokenize-at-ingest documents — the shared token materialization.

Every text operator in plans/ starts from the same projection:
``whitespace_tokens(text)`` (and, for the fingerprint family, per-token
xxhash64 and 3-gram xxhash64 arrays derived from it). At sf0.1 each query
pays a ~job-floor re-tokenize; at the 100× corpus the repeated
split+hash over ~3 GB of text IS the compute bill for the governance
queries (VERDICT r9 #5: source_similarity_jaccard 21.0 s and
duplicate_spans 15.2 s, both re-tokenizing the full corpus per query).

The engine owns the write path, so the fix is a `tables.side_table`
(the parse-at-ingest precedent `plans/typed_events.py` set in round 7):
tokenize ONCE per corpus into a column-pruned parquet side table and
serve every consumer from it:

- ``w``  — ``whitespace_tokens(text)`` verbatim (the Q32 contract);
- ``th`` — per-token xxhash64 (duplicate_spans' pre-hash contract);
- ``g3`` — 3-gram xxhash64 (``word_ngram_hashes(w, 3)``, duplicates
  kept — consumers apply their own ``distinct``).

A consumer that needs only ``g3`` (source_ngram_novelty,
source_similarity_jaccard) scans ONE pruned bigint-array column — zero
string work at query time. Queries keep their oracles unchanged: the
oracle still tokenizes ``documents.text`` per query (DuckDB has no
ingest path), which is exactly the comparison the scale story needs.

The side table is keyed by the source parquet's identity, so a
regenerated fixture re-materializes. bench.py materializes this in its
warm/write-path section (the typed_events accounting), so the build is
billed to ingest, not to the alphabetically-first text query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_store_spark.functions.text import whitespace_tokens, word_ngram_hashes
from event_store_spark.tables import load_table, memo, side_table, table_path


#: winnow-at-ingest selection (r12, VERDICT r11 #2): the per-doc DISTINCT
#: winnowing fingerprints (pipeline11's K=4-token grams, window W=5,
#: string-min selection — struct field order ≡ joined-string order for
#: clean tokens, see `pipeline11.winnow_fingerprints`), hashed to one
#: xxhash64 long per selected gram. Fingerprints are only ever
#: join/group keys, so the long carries the same 2^-64-collision
#: contract as `g3`. Window minima use the straightforward
#: slice/array_min form here — this runs ONCE per corpus on the write
#: path, where the query-time doubling trick's constant factor doesn't
#: matter.
_WF_EXPR = """
CASE WHEN size(w) >= 8 THEN
  transform(
    array_distinct(
      transform(sequence(0, size(w) - 8),
        j -> array_min(transform(sequence(j, j + 4),
               i -> struct(w[i] AS t0, w[i+1] AS t1,
                           w[i+2] AS t2, w[i+3] AS t3))))),
    s -> xxhash64(s.t0, s.t1, s.t2, s.t3))
ELSE CAST(array() AS array<bigint>)
END
"""

#: side-table name; bump its version when the projection's schema changes
#: so corpus cache dirs from older layouts re-materialize instead of
#: missing columns
TOK_TABLE = "documents_tok-v2"


def tokenized_projection(df: DataFrame) -> DataFrame:
    """The one tokenize: documents → token/fingerprint columns. Kept as a
    standalone projection (like `typed_events.typed_projection`) so a
    streaming ingest maintainer and this batch backfill cannot drift.
    Envelope columns beyond doc_id/text are carried when present —
    injected test corpora may be (doc_id, text) only."""
    meta = [c for c in ("source", "lang", "n_chars") if c in df.columns]
    return df.select(
        "doc_id", *meta, whitespace_tokens("text").alias("w")
    ).select(
        "doc_id",
        *meta,
        "w",
        F.expr("transform(w, t -> xxhash64(t))").alias("th"),
        word_ngram_hashes("w", 3).alias("g3"),
        F.expr(_WF_EXPR).alias("wf"),
    )


def tokenized_docs(spark: SparkSession, sf_dir: str, docs_fn=None) -> DataFrame:
    """The ingest-tokenized documents table. Materialized once per
    corpus; a plain parquet scan thereafter, pruning to the consumer's
    column (`g3`-only scans never touch a string).

    ``docs_fn``: zero-arg thunk returning the documents DataFrame — used
    ONLY when ``sf_dir`` has no documents parquet (unit tests inject an
    in-memory corpus by patching the CALLER's ``load_table``); the
    projection then runs inline and unmaterialized."""
    if docs_fn is not None and not os.path.exists(table_path(sf_dir, "documents")):
        return tokenized_projection(docs_fn())

    def write(out: str) -> None:
        # 8 files: same local scan-parallelism sweet spot as typed_events
        tokenized_projection(load_table(spark, sf_dir, "documents")).repartition(
            8
        ).write.mode("overwrite").parquet(out)

    return spark.read.parquet(side_table(spark, sf_dir, "documents", TOK_TABLE, write))


#: mask form applies while the source catalog fits this many bits — the
#: consumers build k + k(k−1)/2 aggregate columns over the mask table
#: (32 → 528, comfortably inside codegen's method-splitting limits);
#: past it they fall back to the sorted-set plan
GRAM_MASK_MAX_SOURCES = 32


def source_gram_masks(spark: SparkSession, sf_dir: str, docs_fn=None):
    """((g, mask) DataFrame, sorted source list) — every distinct 3-gram
    hash with the BITMASK of the sources it occurs in, or ``None`` when
    the source catalog exceeds GRAM_MASK_MAX_SOURCES (callers then use
    `source_gram_sets`).

    r12 re-plan of the governance pair's shared build: the sorted
    source-SET arrays (`source_gram_sets`) made both consumers pay
    interpreted higher-order lambdas per gram row at query time —
    source_similarity_jaccard's nested slice/transform pair expansion
    alone measured 1.3–1.4 s at sf0.1 over the ~M-row gram table. A
    bitmask is ONE `bit_or` codegen aggregate (same single gram
    exchange, map-side partials, duplicates collapse in the OR), and
    every downstream statistic both queries need — per-source vocabulary
    sizes, pairwise intersections, exclusivity counts — is an EXACT fold
    over the ≤2^k-row (mask → gram count) histogram, done on the driver
    (the mad_outliers bounded-fold discipline; a source catalog is a
    mixture-design artifact, not corpus-scaled). Same memo+cache
    accounting as `source_gram_sets`."""

    def build():
        tok = tokenized_docs(spark, sf_dir, docs_fn=docs_fn)
        sources = sorted(
            r["source"] for r in tok.select("source").distinct().collect()
        )
        if len(sources) > GRAM_MASK_MAX_SOURCES:
            return None
        bit = F.create_map(
            *[
                x
                for i, s in enumerate(sources)
                for x in (F.lit(s), F.lit(1 << i).cast("long"))
            ]
        )
        out = (
            tok.select(bit[F.col("source")].alias("b"), F.explode("g3").alias("g"))
            .groupBy("g")
            .agg(F.expr("bit_or(b)").alias("mask"))
            # the aggregate caches at the session's FULL initial shuffle width
            # (8×cores — AQE's runtime coalescing does not rewrite the cached
            # plan), and every consumer then pays per-partition task overhead
            # on ~hundred-row partitions; narrow without a shuffle
            .coalesce(spark.sparkContext.defaultParallelism)
            .cache()
        )
        return out, sources

    return memo(spark, (source_gram_masks, sf_dir), build)


def source_gram_comatrix(spark: SparkSession, sf_dir: str, docs_fn=None):
    """((i, j, n) DataFrame, sorted source list): the upper triangle of
    the bit-indicator gram matrix product Bᵀ·B over `source_gram_masks`
    — diagonal cells are per-source distinct-gram vocabulary sizes,
    off-diagonal cells the pairwise intersections. ``None`` past the
    mask guard.

    This is the pairwise source co-occurrence INDEX of the governance
    family (VERDICT r12 #4 directed exactly this: "cache the k×k fold
    per (session, corpus) the way other shared builds are — it is an
    ingest-family artifact"): deterministic, ≤k(k+1)/2 rows, built with
    one `mapInArrow` int64 partial GEMM per mask partition (guide §4.2
    — exact integer adds) + one tiny sum. Memoized + cached with the
    same accounting as the mask build it derives from; the fold runs
    once per (session, corpus) and is billed to the first consumer's
    execution."""

    def build():
        got = source_gram_masks(spark, sf_dir, docs_fn=docs_fn)
        if got is None:
            return None
        per_gram, sources = got
        k = len(sources)

        def _fold(batches):
            import numpy as np
            import pyarrow as pa

            m = np.zeros((k, k), dtype=np.int64)
            for batch in batches:
                masks = batch.column(0).to_numpy(zero_copy_only=False)
                bits = (masks[:, None] >> np.arange(k)) & 1
                m += bits.T @ bits
            iu = np.triu_indices(k)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(iu[0].astype("int32")),
                    pa.array(iu[1].astype("int32")),
                    pa.array(m[iu]),
                ],
                names=["i", "j", "n"],
            )

        counts = (
            per_gram.select("mask")
            .mapInArrow(_fold, "i int, j int, n long")
            .groupBy("i", "j")
            .agg(F.sum("n").alias("n"))
            # ≤k(k+1)/2 rows: one cached block; the GEMM stage upstream of
            # the exchange keeps the mask cache's width
            .coalesce(1)
            .cache()
        )
        return counts, sources

    return memo(spark, (source_gram_comatrix, sf_dir), build)


def source_gram_sets(spark: SparkSession, sf_dir: str, docs_fn=None) -> DataFrame:
    """(g, srcs) — every distinct 3-gram hash with its SORTED distinct
    source set: the per-gram inverted source vocabulary that BOTH
    corpus-governance queries (`source_ngram_novelty`,
    `source_similarity_jaccard`) aggregate over. Built with ONE gram
    exchange (explode → collect_set; within-source duplicates collapse
    in the set, map-side partials first), memoized + cached per
    (session, corpus) — each query previously rebuilt the distinct
    (source, gram) table once per consumer, shuffling the gram space
    twice per query. Bounded by the distinct-gram space; at 100 TB this
    IS the persisted vocabulary index a curation pipeline maintains."""
    return memo(
        spark,
        (source_gram_sets, sf_dir),
        lambda: tokenized_docs(spark, sf_dir, docs_fn=docs_fn)
        .select("source", F.explode("g3").alias("g"))
        .groupBy("g")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        # same cached-width note as `source_gram_masks`
        .coalesce(spark.sparkContext.defaultParallelism)
        .cache(),
    )
