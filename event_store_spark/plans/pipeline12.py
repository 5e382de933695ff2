"""Training-pipeline operators, round 12: exact substring dedup.

`dedup_substring_spans` is the Lee-et-al.-style exact-substring
deduplicator (Lee et al., "Deduplicating Training Data Makes Language
Models Better", ACL 2022 — their ExactSubstr tool): report every
MAXIMAL token span of length ≥ `MIN_SUB_LEN` that appears verbatim in
another document, as (doc_id, start_pos, len_tokens, partner_doc_id,
partner_pos) — the actual spans a dedup pass would cut, where
`duplicate_spans` (pipeline5) only scores per-document 8-gram coverage.

The reference (kagetech/event-store) has no substring dedup; this is
part of the LLM-pipeline surface the build brief adds.

Algorithm — suffix-array semantics without a suffix array:
Lee et al. materialize a corpus-wide suffix array to find maximal
repeats; that is a total sort of every suffix, unbuildable as stated at
100 TB. The equivalent Spark-honest formulation anchors on verbatim
8-gram hits and recovers maximal matches as DIAGONAL RUNS:

1. posexplode each document's 8-gram xxhash64 fingerprints (token
   hashes served from the tokenize-at-ingest side table — no strings,
   no re-tokenization at query time);
2. ONE hash aggregation by gram keeps grams seen in ≥2 distinct
   documents and ≤ `MAX_GRAM_OCCS` occurrences (the stop-phrase cap —
   the in-plan bound that keeps per-gram pair fan-out ≤ CAP², never
   O(corpus²); a boilerplate 8-gram above the cap is navigation/legal
   chrome, the same rule as winnowing's MAX_FP_DOCS stoplist), and
   expands cross-document anchor pairs (doc_a < doc_b) IN-ROW from the
   collected occurrence list — zero-overlap document pairs are never
   enumerated;
3. two overlapping verbatim 8-grams on the same (doc_a, doc_b,
   pos_b − pos_a) DIAGONAL compose into one longer verbatim match, so a
   maximal match of length L corresponds exactly to a maximal run of
   L − 7 consecutive anchor positions on that diagonal. Runs fall out
   of the gaps-and-islands identity (pos − ROW_NUMBER() is constant
   within a run): one shuffle on the diagonal key, a window, a count.

No iteration, no doubling joins, no suffix materialization; total cost
is O(anchor pairs) — bounded by the corpus's real duplication mass, not
its size. At 100 TB both shuffles key on high-cardinality values (gram
hash; (doc_a, doc_b, delta)) with map-side partial aggregation, and the
occurrence-list cap bounds every task's expansion.

Correctness note (same as every gram-hash dedup in this repo): anchors
join on xxhash64 of the 8 token hashes, so two DIFFERENT grams collide
with probability 2^-64 per pair; the DuckDB oracle joins on the gram
string itself. Identical results unless a collision occurs — none can
at fixture scale, and at 100 TB a collision perturbs one span boundary,
not the dedup decision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from event_store_spark.plans.finalsort import catalog_sort
from event_store_spark.plans.registry import register
from event_store_spark.tables import load_table

#: anchor gram width — matches duplicate_spans' SPAN_TOKENS so the two
#: operators read the same fingerprint structure
SUB_GRAM = 8
#: report only maximal spans at least this many tokens long (Lee et al.
#: use 50 BPE tokens at web scale; 16 whitespace tokens is the same
#: "longer than any idiom" intent at fixture vocabulary size)
MIN_SUB_LEN = 16
#: stop-phrase cap: grams with more total occurrences are boilerplate
MAX_GRAM_OCCS = 64


def _maximal_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL maximal-span manifest (no top-100 cut): (da, start_pos,
    len_tokens, db, partner_pos) per module-docstring diagonal-run
    recovery. Shared by the report query (top spans) and the removal
    query (the applied deletion)."""
    from event_store_spark.plans.tokenized import tokenized_docs

    return maximal_spans_from(
        tokenized_docs(
            spark, sf_dir,
            docs_fn=lambda: load_table(spark, sf_dir, "documents"),
        )
    )


def maximal_spans_from(tok: DataFrame) -> DataFrame:
    """Diagonal-run span recovery over an already-tokenized frame
    (columns ``doc_id``, ``th``) — the corpus queries pass the side
    table; the streaming gate (streaming/substring_gate.py) passes one
    micro-batch's projection."""
    slots = ", ".join(f"th[i + {j}]" for j in range(SUB_GRAM))
    gram_hashes = F.expr(
        f"transform(sequence(0, size(th) - {SUB_GRAM}), i -> xxhash64({slots}))"
    )
    grams = (
        tok.select("doc_id", "th")
        .where(F.size("th") >= SUB_GRAM)
        .select("doc_id", F.posexplode(gram_hashes).alias("p", "g"))
    )
    pair_expr = (
        "flatten(transform(occs, a -> transform("
        "filter(occs, b -> b.doc_id > a.doc_id), "
        "b -> struct(a.doc_id AS da, a.p AS pa, "
        "b.doc_id AS db, b.p AS pb))))"
    )
    pairs = (
        grams.groupBy("g")
        .agg(
            F.min("doc_id").alias("_mn"),
            F.max("doc_id").alias("_mx"),
            F.collect_list(F.struct("doc_id", "p")).alias("occs"),
        )
        .where(
            (F.col("_mn") != F.col("_mx"))
            & (F.size("occs") <= MAX_GRAM_OCCS)
        )
        .select(F.explode(F.expr(pair_expr)).alias("x"))
        .select("x.da", "x.pa", "x.db", "x.pb")
        .withColumn("delta", F.col("pb") - F.col("pa"))
    )
    w = Window.partitionBy("da", "db", "delta").orderBy("pa")
    return (
        pairs.withColumn("isl", F.col("pa") - F.row_number().over(w))
        .groupBy("da", "db", "delta", "isl")
        .agg(
            F.min("pa").alias("start_pos"),
            (F.count(F.lit(1)) + (SUB_GRAM - 1)).alias("len_tokens"),
        )
        .where(F.col("len_tokens") >= MIN_SUB_LEN)
        .select(
            "da",
            F.col("start_pos").cast("bigint").alias("start_pos"),
            F.col("len_tokens").cast("bigint").alias("len_tokens"),
            "db",
            (F.col("start_pos") + F.col("delta"))
            .cast("bigint")
            .alias("partner_pos"),
        )
    )


@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
                  FROM documents),
    pos AS (SELECT doc_id, UNNEST(range(0, len(w) - {SUB_GRAM - 1})) AS p, w
            FROM toks WHERE len(w) >= {SUB_GRAM}),
    grams AS (SELECT doc_id, p,
                     array_to_string(w[p + 1:p + {SUB_GRAM}], ' ') AS gram
              FROM pos),
    keep AS (SELECT gram FROM grams GROUP BY gram
             HAVING MIN(doc_id) <> MAX(doc_id)
                AND COUNT(*) <= {MAX_GRAM_OCCS}),
    hits AS (SELECT doc_id, p, gram FROM grams JOIN keep USING (gram)),
    pairs AS (SELECT a.doc_id AS da, a.p AS pa, b.doc_id AS db, b.p AS pb
              FROM hits a JOIN hits b USING (gram)
              WHERE a.doc_id < b.doc_id),
    runs AS (SELECT da, db, pb - pa AS delta, pa,
                    pa - ROW_NUMBER() OVER (PARTITION BY da, db, pb - pa
                                            ORDER BY pa) AS isl
             FROM pairs),
    spans AS (SELECT da AS doc_id,
                     MIN(pa) AS start_pos,
                     COUNT(*) + {SUB_GRAM - 1} AS len_tokens,
                     db AS partner_doc_id,
                     MIN(pa) + delta AS partner_pos
              FROM runs GROUP BY da, db, delta, isl)
    SELECT doc_id, CAST(start_pos AS BIGINT) AS start_pos,
           CAST(len_tokens AS BIGINT) AS len_tokens,
           partner_doc_id, CAST(partner_pos AS BIGINT) AS partner_pos
    FROM spans WHERE len_tokens >= {MIN_SUB_LEN}
    ORDER BY len_tokens DESC, doc_id, start_pos, partner_doc_id, partner_pos
    LIMIT 100
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document verbatim spans ≥ MIN_SUB_LEN tokens — the
    deletion manifest of an exact-substring dedup pass (module
    docstring for the diagonal-run formulation); top-100 report."""
    return (
        _maximal_spans(spark, sf_dir)
        .select(
            F.col("da").alias("doc_id"),
            "start_pos",
            "len_tokens",
            F.col("db").alias("partner_doc_id"),
            "partner_pos",
        )
        .orderBy(
            F.desc("len_tokens"), "doc_id", "start_pos",
            "partner_doc_id", "partner_pos",
        )
        .limit(100)
    )


@register(
    "dedup_substring_removal",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
                  FROM documents),
    pos AS (SELECT doc_id, UNNEST(range(0, len(w) - {SUB_GRAM - 1})) AS p, w
            FROM toks WHERE len(w) >= {SUB_GRAM}),
    grams AS (SELECT doc_id, p,
                     array_to_string(w[p + 1:p + {SUB_GRAM}], ' ') AS gram
              FROM pos),
    keep AS (SELECT gram FROM grams GROUP BY gram
             HAVING MIN(doc_id) <> MAX(doc_id)
                AND COUNT(*) <= {MAX_GRAM_OCCS}),
    hits AS (SELECT doc_id, p, gram FROM grams JOIN keep USING (gram)),
    pairs AS (SELECT a.doc_id AS da, a.p AS pa, b.doc_id AS db, b.p AS pb
              FROM hits a JOIN hits b USING (gram)
              WHERE a.doc_id < b.doc_id),
    runs AS (SELECT da, db, pb - pa AS delta, pa,
                    pa - ROW_NUMBER() OVER (PARTITION BY da, db, pb - pa
                                            ORDER BY pa) AS isl
             FROM pairs),
    spans AS (SELECT db, delta, MIN(pa) + delta AS s,
                     MIN(pa) + delta + COUNT(*) + {SUB_GRAM - 1} AS e,
                     COUNT(*) + {SUB_GRAM - 1} AS len_tokens
              FROM runs GROUP BY da, db, delta, isl),
    cuts AS (SELECT db AS doc_id, s, e FROM spans
             WHERE len_tokens >= {MIN_SUB_LEN}),
    ord AS (SELECT doc_id, s, e,
                   MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS pm
            FROM cuts),
    isl2 AS (SELECT doc_id, s, e,
                    SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
                        OVER (PARTITION BY doc_id ORDER BY s, e) AS grp
             FROM ord),
    merged AS (SELECT doc_id, MIN(s) AS ms, MAX(e) AS me
               FROM isl2 GROUP BY doc_id, grp),
    removed AS (SELECT doc_id, SUM(me - ms) AS removed_tokens
                FROM merged GROUP BY doc_id),
    nt AS (SELECT doc_id, len(w) AS n_tokens FROM toks)
    SELECT r.doc_id, CAST(n.n_tokens AS BIGINT) AS n_tokens,
           CAST(r.removed_tokens AS BIGINT) AS removed_tokens,
           CAST(n.n_tokens - r.removed_tokens AS BIGINT) AS kept_tokens
    FROM removed r JOIN nt n USING (doc_id)
    ORDER BY removed_tokens DESC, doc_id LIMIT 100
    """,
)
def dedup_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the deletion manifest (Lee et al.'s ExactSubstr removal
    pass): every maximal duplicated span is cut from the LATER document
    (keep-first — the lowest doc_id retains its copy; chains 1<2<3 cut
    both later docs, the union collapsing repeats). Per-doc budget =
    interval UNION of that doc's cut spans, via one keyed
    gaps-and-islands window (pos − running-island-count), so overlapping
    cuts from different partners never double-bill a token. Reports
    (doc_id, n_tokens, removed_tokens, kept_tokens) for the 100 most-cut
    docs.

    Scale shape: everything downstream of `_maximal_spans` keys on
    doc_id — one keyed window + two keyed aggregations over the cut
    manifest (bounded by real duplication mass), then a join against the
    tokenized side table's (doc_id, n_tokens) projection."""
    from event_store_spark.plans.tokenized import tokenized_docs

    cuts = _maximal_spans(spark, sf_dir).select(
        F.col("db").alias("doc_id"),
        F.col("partner_pos").alias("s"),
        (F.col("partner_pos") + F.col("len_tokens")).alias("e"),
    )
    w = Window.partitionBy("doc_id").orderBy("s", "e")
    pm = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = cuts.withColumn("pm", pm).withColumn(
        "grp",
        F.sum(
            F.when(F.col("pm").isNull() | (F.col("s") > F.col("pm")), 1)
            .otherwise(0)
        ).over(w),
    )
    removed = (
        staged.groupBy("doc_id", "grp")
        .agg(F.min("s").alias("ms"), F.max("e").alias("me"))
        .groupBy("doc_id")
        .agg(F.sum(F.col("me") - F.col("ms")).alias("removed_tokens"))
    )
    nt = tokenized_docs(
        spark, sf_dir,
        docs_fn=lambda: load_table(spark, sf_dir, "documents"),
    ).select("doc_id", F.size("th").cast("bigint").alias("n_tokens"))
    return (
        removed.join(nt, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.col("removed_tokens").cast("bigint").alias("removed_tokens"),
            (F.col("n_tokens") - F.col("removed_tokens"))
            .cast("bigint")
            .alias("kept_tokens"),
        )
        .orderBy(F.desc("removed_tokens"), "doc_id")
        .limit(100)
    )


@register(
    "dedup_substring_incremental",
    oracle=f"""
    WITH toks AS (SELECT doc_id, source,
                         string_split_regex(trim(text), '\\s+') AS w
                  FROM documents),
    pos AS (SELECT doc_id, source,
                   UNNEST(range(0, len(w) - {SUB_GRAM - 1})) AS p, w
            FROM toks WHERE len(w) >= {SUB_GRAM}),
    grams AS (SELECT doc_id, source, p,
                     array_to_string(w[p + 1:p + {SUB_GRAM}], ' ') AS gram
              FROM pos),
    idx AS (SELECT doc_id, p, gram FROM grams WHERE source <> 'src3'),
    keep AS (SELECT gram FROM idx GROUP BY gram
             HAVING COUNT(*) <= {MAX_GRAM_OCCS}),
    bat AS (SELECT doc_id, p, gram FROM grams WHERE source = 'src3'),
    hits AS (SELECT b.doc_id AS new_id, b.p AS pn,
                    i.doc_id AS idx_id, i.p AS pi
             FROM bat b
             JOIN (SELECT idx.* FROM idx JOIN keep USING (gram)) i
               USING (gram)),
    runs AS (SELECT new_id, idx_id, pi - pn AS delta, pn,
                    pn - ROW_NUMBER() OVER (PARTITION BY new_id, idx_id,
                                                         pi - pn
                                            ORDER BY pn) AS isl
             FROM hits),
    spans AS (SELECT new_id, idx_id,
                     COUNT(*) + {SUB_GRAM - 1} AS span
              FROM runs GROUP BY new_id, idx_id, delta, isl),
    best AS (SELECT new_id, idx_id, MAX(span) AS span FROM spans
             WHERE span >= {MIN_SUB_LEN} GROUP BY new_id, idx_id),
    r AS (SELECT new_id, idx_id, span,
                 ROW_NUMBER() OVER (PARTITION BY new_id
                                    ORDER BY span DESC, idx_id) AS rn
          FROM best)
    SELECT new_id AS new_doc_id, idx_id AS match_doc_id,
           CAST(span AS BIGINT) AS span_tokens
    FROM r WHERE rn = 1 ORDER BY new_doc_id
    """,
)
def dedup_substring_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus exact-substring probe — the oracle-checked twin
    of `streaming.substring_gate`'s index stage (the `dedup_incremental`
    convention: source src3 stands in for the arriving batch, the rest
    is the persisted postings index). Each duplicate new doc reports its
    best existing match (longest shared maximal span, ties to the
    lowest doc id).

    Plan = the DedupIndex(kind="substring") probe expressed over the
    tokenized side table: index-side stop-phrase cap (MAX_GRAM_OCCS
    postings per gram — the same bound the persisted index enforces at
    build/compact), one equi-join on gram hash (batch side tiny, AQE
    broadcasts — no forced hint, same reasoning as dedup_incremental),
    diagonal-run composition, keyed windows throughout."""
    from event_store_spark.plans.tokenized import tokenized_docs

    slots = ", ".join(f"th[i + {j}]" for j in range(SUB_GRAM))
    gram_hashes = F.expr(
        f"transform(sequence(0, size(th) - {SUB_GRAM}), i -> xxhash64({slots}))"
    )
    grams = (
        tokenized_docs(
            spark, sf_dir,
            docs_fn=lambda: load_table(spark, sf_dir, "documents"),
        )
        .select("doc_id", "source", "th")
        .where(F.size("th") >= SUB_GRAM)
        .select(
            "doc_id", "source", F.posexplode(gram_hashes).alias("p", "g")
        )
    )
    idx = grams.where(F.col("source") != "src3").select(
        F.col("doc_id").alias("idx_id"), F.col("p").alias("pi"), "g"
    )
    cap = (
        idx.groupBy("g")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") <= MAX_GRAM_OCCS)
        .select("g")
    )
    bat = grams.where(F.col("source") == "src3").select(
        F.col("doc_id").alias("new_id"), F.col("p").alias("pn"), "g"
    )
    hits = idx.join(cap, "g").join(bat, "g").select(
        "new_id", "pn", "idx_id", (F.col("pi") - F.col("pn")).alias("delta")
    )
    w = Window.partitionBy("new_id", "idx_id", "delta").orderBy("pn")
    spans = (
        hits.withColumn("isl", F.col("pn") - F.row_number().over(w))
        .groupBy("new_id", "idx_id", "delta", "isl")
        .agg((F.count(F.lit(1)) + (SUB_GRAM - 1)).alias("span"))
        .where(F.col("span") >= MIN_SUB_LEN)
        .groupBy("new_id", "idx_id")
        .agg(F.max("span").alias("span"))
    )
    wb = Window.partitionBy("new_id").orderBy(F.col("span").desc(), "idx_id")
    return (
        spans.withColumn("rn", F.row_number().over(wb))
        .where(F.col("rn") == 1)
        .select(
            F.col("new_id").alias("new_doc_id"),
            F.col("idx_id").alias("match_doc_id"),
            F.col("span").cast("bigint").alias("span_tokens"),
        )
        .orderBy("new_doc_id")
    )




@register(
    "substring_source_matrix",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
                  FROM documents),
    pos AS (SELECT doc_id, UNNEST(range(0, len(w) - {SUB_GRAM - 1})) AS p, w
            FROM toks WHERE len(w) >= {SUB_GRAM}),
    grams AS (SELECT doc_id, p,
                     array_to_string(w[p + 1:p + {SUB_GRAM}], ' ') AS gram
              FROM pos),
    keep AS (SELECT gram FROM grams GROUP BY gram
             HAVING MIN(doc_id) <> MAX(doc_id)
                AND COUNT(*) <= {MAX_GRAM_OCCS}),
    hits AS (SELECT doc_id, p, gram FROM grams JOIN keep USING (gram)),
    pairs AS (SELECT a.doc_id AS da, a.p AS pa, b.doc_id AS db, b.p AS pb
              FROM hits a JOIN hits b USING (gram)
              WHERE a.doc_id < b.doc_id),
    runs AS (SELECT da, db, pb - pa AS delta, pa,
                    pa - ROW_NUMBER() OVER (PARTITION BY da, db, pb - pa
                                            ORDER BY pa) AS isl
             FROM pairs),
    spans AS (SELECT da, db, COUNT(*) + {SUB_GRAM - 1} AS len_tokens
              FROM runs GROUP BY da, db, delta, isl),
    q AS (SELECT s.da, s.db, s.len_tokens,
                 LEAST(a.source, b.source) AS src_a,
                 GREATEST(a.source, b.source) AS src_b
          FROM spans s
          JOIN documents a ON a.doc_id = s.da
          JOIN documents b ON b.doc_id = s.db
          WHERE s.len_tokens >= {MIN_SUB_LEN})
    SELECT src_a, src_b,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(len_tokens) AS BIGINT) AS dup_tokens
    FROM q GROUP BY src_a, src_b
    ORDER BY dup_tokens DESC, src_a, src_b
    """,
)
def substring_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance of verbatim duplication: for every (unordered) source
    pair, how many maximal ≥ MIN_SUB_LEN-token spans cross it and how
    many duplicated tokens they carry — the curation view that tells you
    WHICH crawls/dumps are copying from each other (licensing chrome,
    syndication, mirror sites) before any removal decision.

    Plan: the shared `_maximal_spans` manifest joined twice against the
    BROADCAST (doc_id → source) projection (a corpus catalog column —
    dimension-sized relative to text), then one aggregation on the
    normalized (least, greatest) source pair. No new corpus scan: the
    tokenized side table serves the manifest, the documents scan prunes
    to two columns."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    spans = _maximal_spans(spark, sf_dir)
    a = docs.select(F.col("doc_id").alias("da"), F.col("source").alias("sa"))
    b = docs.select(F.col("doc_id").alias("db"), F.col("source").alias("sb"))
    return (
        spans.join(F.broadcast(a), "da")
        .join(F.broadcast(b), "db")
        .select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
            "len_tokens",
        )
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum("len_tokens").cast("bigint").alias("dup_tokens"),
        )
        .transform(lambda d: catalog_sort(d, F.desc("dup_tokens"), "src_a", "src_b"))
    )
