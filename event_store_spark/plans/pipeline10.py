"""Corpus-governance statistics: source novelty and distribution drift.

Two reports a data-curation pipeline runs when deciding what a new
source adds to the mix:

- `source_ngram_novelty`: per source, how much of its 3-gram vocabulary
  appears in NO other source — the marginal-content measure that
  separates a genuinely new corpus from a re-crawl. One tokenization
  pass; grams travel as xxhash64 longs (never output — the
  `contamination_ngram` contract); one shuffle keyed by gram computes
  each gram's distinct-source count, then a per-source aggregate.

- `ks_length_drift`: the exact two-sample Kolmogorov-Smirnov statistic
  between the held-out source's (src0) document-length distribution and
  the rest of the corpus. Step CDFs attain their maximum difference at
  sample points, so evaluating at every distinct length is EXACT, not a
  grid approximation: per-(length, side) counts → one cumulative-sum
  window over the O(#distinct lengths) aggregate (bounded by the length
  domain, not the corpus — the `mixture_weights` small-window
  precedent) → max |CDF_a − CDF_b|. All counts integer; the one double
  division happens identically on both engines, and the statistic is
  reported in basis points.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from event_store_spark.plans.finalsort import catalog_sort
from event_store_spark.plans.registry import register
from event_store_spark.tables import hot_table, load_table

KS_HELD_OUT = "src0"

#: mad_outliers serves per-type medians as plan-literal maps only up to
#: this many event types; past it the literals bloat the plan and the
#: broadcast-join form wins (ADVICE r11)
MAD_LITERAL_MAP_MAX = 256


@register(
    "source_ngram_novelty",
    oracle="""
    WITH tok AS (SELECT doc_id, source,
                        string_split_regex(trim(text), '\\s+') AS w
                 FROM documents),
    sh AS (SELECT DISTINCT source,
                  hash(UNNEST(list_transform(
                      range(1, greatest(len(w) - 2, 0) + 1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS g
           FROM tok),
    spread AS (SELECT g, COUNT(*) AS nsrc FROM sh GROUP BY g)
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (p.nsrc = 1) AS BIGINT) AS n_exclusive,
           CAST(FLOOR(10000.0 * COUNT(*) FILTER (p.nsrc = 1) / COUNT(*))
                AS BIGINT) AS novelty_bp
    FROM sh s JOIN spread p USING (g)
    GROUP BY s.source ORDER BY s.source
    """,
)
def source_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct 3-gram count, count exclusive to the source,
    and the exclusive share in basis points.

    NOTE the hash contract: DuckDB's `hash()` and Spark's `xxhash64`
    are both 64-bit but NOT the same function — which is fine here
    because the hash never crosses engines: each side dedups and
    counts over ITS OWN hash space and only the (source, counts) rows
    are compared. A 64-bit collision would merge two grams on one side
    only (probability ~(#grams)^2/2^64); the brief's standard
    fingerprint trade.

    No gram-keyed JOIN: an exclusive gram (distinct-source count 1) has
    exactly one owner, so `groupBy(g).agg(count, min(source))` names it
    directly and the per-source exclusive totals fall out of the
    O(#grams) aggregate; the only join left is two ≤#sources-row
    aggregates, broadcast. The first cut joined the full (source, gram)
    set back onto the per-gram spread — one more full shuffle of the
    gram space plus the join itself. Local 10× wall-clock moves only
    5.8 → 5.2 s (the tokenize+explode+distinct dominates a 32-core box),
    but the removed stage is the one that grows with the gram space, so
    the gap widens with the corpus.

    Serves from the shared memoized `source_gram_sets` build
    (plans/tokenized.py, VERDICT r9 #3): a pruned (source, g3) scan
    feeding ONE gram exchange, cached and shared with
    source_similarity_jaccard — no string ever enters the plan at query
    time, and the distinct (source, gram) table is never rebuilt per
    consumer (the first cut shuffled the gram space once for the
    per-source sizes and once more for the spread counts). nsrc and the
    exclusive owner fall out of the per-gram sorted source set
    directly: size(srcs) and srcs[1]."""
    from event_store_spark.plans.tokenized import (
        source_gram_masks,
        source_gram_sets,
    )

    got = source_gram_masks(
        spark, sf_dir,
        docs_fn=lambda: load_table(spark, sf_dir, "documents"),
    )
    if got is not None:
        # r12: ONE aggregate over the shared (gram → source-bitmask)
        # table — n_grams(s) = sum(bit s), n_exclusive(s) = sum(mask is
        # exactly 1<<s) — spliced as a single composite expression and
        # exploded in-row to the per-source report (see
        # source_similarity_jaccard for the full rationale). The
        # basis-point projection stays the identical Spark expression.
        per_gram, sources = got
        k = len(sources)
        sums = ", ".join(
            [
                f"sum(cast((shiftright(mask, {i}) & 1) as long)) AS z{i}"
                for i in range(k)
            ]
            + [
                f"sum(cast(mask = {1 << i} as long)) AS x{i}"
                for i in range(k)
            ]
        )
        esc = [s.replace("\\", "\\\\").replace("'", "\\'") for s in sources]
        rows = ", ".join(
            f"struct('{esc[i]}' AS source, s.z{i} AS n_grams,"
            f" s.x{i} AS n_exclusive)"
            for i in range(k)
        )
        return (
            per_gram.agg(F.expr(f"struct({sums})").alias("s"))
            .select(F.explode(F.expr(f"array({rows})")).alias("p"))
            .select("p.*")
            .where(F.col("n_grams") > 0)  # gram-less sources never enter
            .select(
                "source",
                F.col("n_grams").cast("bigint").alias("n_grams"),
                F.col("n_exclusive").cast("bigint").alias("n_exclusive"),
                F.floor(10000.0 * F.col("n_exclusive") / F.col("n_grams"))
                .cast("bigint")
                .alias("novelty_bp"),
            )
            .orderBy("source")
        )

    # fallback past the source-catalog guard: the r11 sorted-set plan
    per_gram = source_gram_sets(
        spark, sf_dir,
        docs_fn=lambda: load_table(spark, sf_dir, "documents"),
    )
    per_source = (
        per_gram.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_grams"))
    )
    excl = (
        per_gram.where(F.size("srcs") == 1)
        .groupBy(F.element_at("srcs", 1).alias("source"))
        .agg(F.count(F.lit(1)).alias("n_exclusive"))
    )
    return (
        per_source.join(F.broadcast(excl), "source", "left")
        .select(
            "source",
            "n_grams",
            F.coalesce(F.col("n_exclusive"), F.lit(0)).alias("n_exclusive"),
            F.floor(
                10000.0
                * F.coalesce(F.col("n_exclusive"), F.lit(0))
                / F.col("n_grams")
            )
            .cast("bigint")
            .alias("novelty_bp"),
        )
        .transform(lambda d: catalog_sort(d, "source"))
    )


@register(
    "ks_length_drift",
    oracle=f"""
    WITH pts AS (SELECT n_chars AS v,
                        CAST(source = '{KS_HELD_OUT}' AS INT) AS a
                 FROM documents),
    n AS (SELECT CAST(SUM(a) AS BIGINT) AS na,
                 CAST(SUM(1 - a) AS BIGINT) AS nb FROM pts),
    per_v AS (SELECT v, SUM(a) AS ca, SUM(1 - a) AS cb
              FROM pts GROUP BY v),
    cum AS (SELECT v,
                   SUM(ca) OVER (ORDER BY v) AS cca,
                   SUM(cb) OVER (ORDER BY v) AS ccb
            FROM per_v)
    SELECT n.na, n.nb,
           CAST(FLOOR(10000.0 * MAX(ABS(cca * 1.0 / n.na
                                        - ccb * 1.0 / n.nb))) AS BIGINT)
               AS ks_bp
    FROM cum, n GROUP BY n.na, n.nb
    """,
)
def ks_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic (basis points) between src0's
    n_chars distribution and the rest of the corpus."""
    pts = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("v"),
        (F.col("source") == KS_HELD_OUT).cast("int").alias("a"),
    )
    per_v = pts.groupBy("v").agg(
        F.sum("a").alias("ca"), F.sum(1 - F.col("a")).alias("cb")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_v.select(
        F.sum("ca").over(w).alias("cca"), F.sum("cb").over(w).alias("ccb")
    )
    n = pts.agg(F.sum("a").alias("na"), F.sum(1 - F.col("a")).alias("nb"))
    return (
        cum.crossJoin(F.broadcast(n))
        .groupBy("na", "nb")
        .agg(
            F.floor(
                10000.0
                * F.max(
                    F.abs(
                        F.col("cca") * F.lit(1.0) / F.col("na")
                        - F.col("ccb") * F.lit(1.0) / F.col("nb")
                    )
                )
            )
            .cast("bigint")
            .alias("ks_bp")
        )
        .select("na", "nb", "ks_bp")
    )


#: literal blocklist phrases (a real pipeline loads thousands; the scan
#: shape — one alternation regex compiled once, applied map-side — is
#: identical at any list size that fits a broadcast)
BLOCKLIST = ("spark", "hash join", "slow scan")
_BLOCK_RE = "|".join(BLOCKLIST)


@register(
    "blocklist_scan",
    oracle=f"""
    SELECT source,
           CAST(COUNT(*) FILTER (len(regexp_extract_all(text, '{_BLOCK_RE}'))
                                 > 0) AS BIGINT) AS n_flagged,
           CAST(SUM(len(regexp_extract_all(text, '{_BLOCK_RE}')))
                AS BIGINT) AS n_hits
    FROM documents GROUP BY source ORDER BY source
    """,
)
def blocklist_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content filtering: per source, documents containing any blocklist
    phrase and the total phrase occurrences. One map-side
    regexp_extract_all over a literal alternation (the compiled-once
    Aho-Corasick-style multi-pattern scan every toxicity/keyword filter
    runs), one partial→final aggregate — no shuffle carries text."""
    hits = F.size(F.regexp_extract_all("text", F.lit(_BLOCK_RE), F.lit(0)))
    return (
        load_table(spark, sf_dir, "documents")
        .select("source", hits.alias("h"))
        .groupBy("source")
        .agg(
            F.sum((F.col("h") > 0).cast("bigint")).alias("n_flagged"),
            F.sum("h").cast("bigint").alias("n_hits"),
        )
        .orderBy("source")
    )


@register(
    "mad_outliers",
    oracle="""
    WITH med AS (SELECT event_type, MEDIAN(value) AS med
                 FROM events GROUP BY event_type),
    dev AS (SELECT e.event_type, e.value, m.med,
                   ABS(e.value - m.med) AS adev
            FROM events e JOIN med m USING (event_type)),
    mad AS (SELECT event_type, MEDIAN(adev) AS mad FROM dev
            GROUP BY event_type)
    SELECT d.event_type,
           ROUND(MAX(d.med), 4) AS med,
           ROUND(MAX(a.mad), 4) AS mad,
           CAST(COUNT(*) FILTER (d.adev > 3 * 1.4826 * a.mad) AS BIGINT)
               AS n_outliers
    FROM dev d JOIN mad a USING (event_type)
    GROUP BY d.event_type ORDER BY d.event_type
    """,
)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier counts: |x − median| > 3·1.4826·MAD —
    the robust-z rule that survives the outliers it hunts (stdev-based
    z-scores are dragged by the tail they measure; `event_rate_anomalies`
    is the moment-based contrast).

    Two exact-median passes (value, then absolute deviation), each a
    per-group percentile aggregate; the O(#types) median tables ride
    broadcasts back onto the rows. Exact interpolated medians agree
    bit-for-bit cross-engine (the `quartiles_exact` dyadic-fraction pin);
    the final round(4) guards the subtraction's last bit."""
    # hot pinned events (VERDICT r10 #4): this plan re-derives `dev` from
    # the base relation twice (med pass, then the outlier pass) — a fresh
    # parquet scan each time was 3x the actual aggregation work at sf0.1.
    # The per-type median tables are O(#event_types) rows — a bounded
    # driver fold (the k-centroids discipline), inlined as literal maps so
    # neither pass pays a broadcast-exchange build job: three sequential
    # aggregates over the events projection and nothing else.
    ev = hot_table(spark, sf_dir, "events").select("event_type", "value")
    med_rows = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    ).collect()
    if not med_rows:
        # empty log: the oracle's GROUP BY yields zero rows, and a
        # zero-arg create_map() would not even analyze (map<void,void>)
        return spark.createDataFrame(
            [], "event_type string, med double, mad double, n_outliers bigint"
        )
    if len(med_rows) > MAD_LITERAL_MAP_MAX:
        # ADVICE r11: a high-cardinality type column would embed
        # unboundedly many entries in the plan literal — fall back to the
        # broadcast-join form, whose build cost is what the literal maps
        # were avoiding at small #types
        med = F.broadcast(
            spark.createDataFrame(med_rows, "event_type string, med double")
        )
        dev = ev.join(med, "event_type", "left").select(
            "event_type", "med",
            F.abs(F.col("value") - F.col("med")).alias("adev"),
        )
        mad = F.broadcast(
            dev.groupBy("event_type")
            .agg(F.percentile("adev", F.lit(0.5)).alias("mad"))
        )
        return (
            dev.join(mad, "event_type", "left")
            .groupBy("event_type")
            .agg(
                F.round(F.max("med"), 4).alias("med"),
                F.round(F.max("mad"), 4).alias("mad"),
                F.sum(
                    (F.col("adev") > 3 * 1.4826 * F.col("mad")).cast("bigint")
                ).alias("n_outliers"),
            )
            .select("event_type", "med", "mad", "n_outliers")
            .orderBy("event_type")
        )
    # literal-map fast path. Map keys cannot be NULL, but a NULL
    # event_type group is legal (percentile/groupBy emit it) — key the
    # maps on a coalesced sentinel both at build and at lookup (ADVICE
    # r11: a raw null key fails at runtime with "Cannot use null as map
    # key"; the sentinel keeps the NULL group's med/mad/outliers exact)
    _NULLKEY = "\x00<null event_type>"
    _k = F.coalesce(F.col("event_type"), F.lit(_NULLKEY))
    med_map = F.create_map(
        *[
            F.lit(x)
            for r in med_rows
            for x in (r["event_type"] if r["event_type"] is not None
                      else _NULLKEY, r["med"])
        ]
    )
    dev = ev.select(
        "event_type",
        F.abs(F.col("value") - med_map[_k]).alias("adev"),
    )
    mad_rows = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    ).collect()
    mad_map = F.create_map(
        *[
            F.lit(x)
            for r in mad_rows
            for x in (r["event_type"] if r["event_type"] is not None
                      else _NULLKEY, r["mad"])
        ]
    )
    return (
        dev.groupBy("event_type")
        .agg(
            F.sum(
                (F.col("adev") > 3 * 1.4826 * mad_map[_k]).cast("bigint")
            ).alias("n_outliers"),
        )
        .select(
            "event_type",
            F.round(med_map[_k], 4).alias("med"),
            F.round(mad_map[_k], 4).alias("mad"),
            "n_outliers",
        )
        .transform(lambda d: catalog_sort(d, "event_type"))
    )


@register(
    "dq_checks",
    oracle="""
    SELECT 'customer_key_unique' AS check_name,
           CAST((SELECT COUNT(*) FROM
                 (SELECT c_custkey FROM customer GROUP BY c_custkey
                  HAVING COUNT(*) > 1)) AS BIGINT) AS measured,
           CAST((SELECT COUNT(*) FROM
                 (SELECT c_custkey FROM customer GROUP BY c_custkey
                  HAVING COUNT(*) > 1)) = 0 AS INT) AS passed
    UNION ALL
    SELECT 'orders_custkey_ri',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) = 0 AS INT)
    UNION ALL
    SELECT 'lineitem_orderkey_ri',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) = 0 AS INT)
    UNION ALL
    SELECT 'lineitem_quantity_positive',
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0)
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0) = 0
                AS INT)
    UNION ALL
    SELECT 'documents_text_null_bp',
           CAST((SELECT FLOOR(10000.0 * COUNT(*) FILTER (text IS NULL)
                              / COUNT(*)) FROM documents) AS BIGINT),
           CAST((SELECT FLOOR(10000.0 * COUNT(*) FILTER (text IS NULL)
                         / COUNT(*)) FROM documents) <= 100 AS INT)
    UNION ALL
    SELECT 'events_ts_in_range',
           CAST((SELECT COUNT(*) FROM events
                 WHERE ts < TIMESTAMP '2020-01-01'
                    OR ts >= TIMESTAMP '2030-01-01') AS BIGINT),
           CAST((SELECT COUNT(*) FROM events
            WHERE ts < TIMESTAMP '2020-01-01'
               OR ts >= TIMESTAMP '2030-01-01') = 0 AS INT)
    ORDER BY check_name
    """,
)
def dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate: the expectation suite a pipeline runs before
    admitting a snapshot to training/serving — key uniqueness,
    referential integrity, domain ranges, null budgets — one row per
    check with the measured violation count and the verdict.

    Each check is its own small plan (RI checks are broadcast anti-joins
    with the DIM side broadcast; the rest are single aggregates) unioned
    into one report: at 100 TB each check remains one pruned column scan,
    and a failed gate carries its violation COUNT — the triage number —
    not just a boolean."""

    # narrow projections: six sub-plans scan five tables; the RI checks
    # read customer/orders twice each, and lineitem only as the 2 columns
    # the checks need
    cust = hot_table(spark, sf_dir, "customer", ("c_custkey",))
    orders = hot_table(spark, sf_dir, "orders", ("o_custkey", "o_orderkey"))
    li = hot_table(spark, sf_dir, "lineitem", ("l_orderkey", "l_quantity"))
    docs = load_table(spark, sf_dir, "documents").select("text")
    ev = hot_table(spark, sf_dir, "events").select("ts")

    dup = (
        cust.groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("m"))
    )
    orphan_o = (
        orders.join(F.broadcast(cust.distinct()),
                    orders.o_custkey == cust.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    # both lineitem checks fused into ONE pass (VERDICT r10 #4): the RI
    # check is a broadcast left join whose unmatched rows ARE the orphans,
    # the domain check rides the same scan as a conditional sum, and the
    # single result row fans out into the two report rows via an in-row
    # map explode — lineitem is scanned exactly once
    li_checked = (
        li.join(
            F.broadcast(
                orders.select("o_orderkey").distinct().withColumn(
                    "_hit", F.lit(1)
                )
            ),
            li.l_orderkey == orders.o_orderkey,
            "left",
        )
        .agg(
            F.coalesce(
                F.sum(F.col("_hit").isNull().cast("bigint")), F.lit(0)
            ).alias("m_orphan"),
            F.coalesce(
                F.sum((F.col("l_quantity") <= 0).cast("bigint")), F.lit(0)
            ).alias("m_negqty"),
        )
        .select(
            F.explode(
                F.create_map(
                    F.lit("lineitem_orderkey_ri"), F.col("m_orphan"),
                    F.lit("lineitem_quantity_positive"), F.col("m_negqty"),
                )
            ).alias("check_name", "m")
        )
        .select(
            "check_name",
            F.col("m").cast("bigint").alias("measured"),
            (F.col("m") <= 0).cast("int").alias("passed"),
        )
    )
    null_bp = docs.agg(
        F.floor(
            10000.0
            * F.sum(F.col("text").isNull().cast("bigint"))
            / F.count(F.lit(1))
        ).alias("m")
    )
    ts_range = ev.where(
        (F.col("ts") < F.lit("2020-01-01").cast("timestamp"))
        | (F.col("ts") >= F.lit("2030-01-01").cast("timestamp"))
    ).agg(F.count(F.lit(1)).alias("m"))

    checks = [
        ("customer_key_unique", dup, 0),
        ("documents_text_null_bp", null_bp, 100),
        ("events_ts_in_range", ts_range, 0),
        ("orders_custkey_ri", orphan_o, 0),
    ]
    out = li_checked
    for name, agg_df, budget in checks:
        row = agg_df.select(
            F.lit(name).alias("check_name"),
            F.col("m").cast("bigint").alias("measured"),
            (F.col("m") <= budget).cast("int").alias("passed"),
        )
        out = out.unionByName(row)
    return out.orderBy("check_name")


@register(
    "shard_manifest",
    oracle="""
    SELECT CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) % 16 AS BIGINT) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc,
           CAST(SUM(CAST(concat('0x', substr(md5(
                    CAST(doc_id AS VARCHAR) || ':' || CAST(n_chars AS VARCHAR)
               ), 1, 8)) AS BIGINT))
               % 9223372036854775783 AS BIGINT) AS fingerprint
    FROM documents
    GROUP BY shard ORDER BY shard
    """,
)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data EXPORT manifest: deterministic shard assignment +
    per-shard integrity record — the step between a curated corpus and
    the dataloader's file list.

    Shard = md5(doc_id) mod 16: a pure row-local function, so assignment
    is map-side (the physical export is `write.partitionBy("shard")` on
    the same column), uniform regardless of id distribution (hash, not
    range), and STABLE — re-exporting a grown corpus never moves an
    existing doc between shards, so downstream caches stay valid. The
    per-shard fingerprint is an order-independent SUM of per-doc content
    hashes (md5 over id:length) — two exports can be compared
    shard-by-shard without reading the data; a driver validating a
    100 TB export reads 16 manifest rows, not the corpus. One hash agg,
    one shuffle of 16 keys. The sum accumulates in DECIMAL(38,0) and is
    reported mod the largest int64 prime: at 10^11 docs a raw BIGINT sum
    of 32-bit hashes overflows (ANSI Spark would fail the job); the
    modular form never does, stays order-independent, and DuckDB's
    natural SUM(BIGINT)→HUGEINT widening takes the same mod — identical
    values, no fetch-path-sensitive HUGEINT in the OUTPUT (the
    test_oracle_types discipline)."""
    docs = load_table(spark, sf_dir, "documents")
    h8 = lambda col: F.conv(  # noqa: E731
        F.substring(F.md5(col), 1, 8), 16, 10
    ).cast("bigint")
    return (
        docs.select(
            (h8(F.col("doc_id").cast("string")) % 16).alias("shard"),
            "doc_id",
            "n_chars",
            h8(
                F.concat_ws(":", F.col("doc_id").cast("string"),
                            F.col("n_chars").cast("string"))
            ).alias("_fp"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
            F.max("doc_id").cast("bigint").alias("max_doc"),
            (
                F.sum(F.col("_fp").cast("decimal(38,0)"))
                % F.lit(9223372036854775783).cast("decimal(38,0)")
            )
            .cast("bigint")
            .alias("fingerprint"),
        )
        .transform(lambda d: catalog_sort(d, "shard"))
    )
