"""Event-analytics + pipeline operators, round 5 extension: funnel,
cohort retention, gap-fill/forward-fill resampling, column profiling,
weighted sampling, inter-arrival stats, equi-width histogram.

These widen the analytics surface over the `events`/`orders`/`documents`
fixtures with the operators a production event store is actually queried
with (funnel/retention are THE two canonical product-analytics queries
over an event log — the reference's consumers would run them against the
replicated Kafka topics; here they run directly on the ordered store,
`ReactorKafkaEventStore.java:95-118` subscribe semantics).

Design rules as the rest of plans/: built-in Catalyst expressions only,
one shuffle where one suffices, every query DuckDB-oracle-checked with
identically aliased columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from event_store_spark.plans.finalsort import catalog_sort, filtered_sort
from event_store_spark.plans.registry import register
from event_store_spark.tables import load_table, memo


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pinned hot projection — but ONLY under the real loader: tests inject
    # in-memory corpora by patching this module's load_table, and those
    # frames must not be memoized under a shared sf_dir key
    from event_store_spark import tables as _tables

    if load_table is _tables.load_table:
        return _tables.hot_table(spark, sf_dir, "events")
    return load_table(spark, sf_dir, "events")


# ---------------------------------------------------------------------------
# Funnel: view -> click -> purchase
# ---------------------------------------------------------------------------

@register(
    "funnel_stages",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS vt FROM events
        WHERE event_type = 'view' GROUP BY 1),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS ct
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.vt GROUP BY 1),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS pt
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.ct GROUP BY 1)
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_click,
           (SELECT COUNT(*) FROM p) AS n_purchase
    """,
)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase.

    A user converts a stage only with an event STRICTLY AFTER their first
    event of the previous stage (the canonical product-analytics funnel;
    unordered 'did all three ever' funnels overcount).

    Plan shape: ONE shuffle on user_id, then three window passes over the
    same partitioning (each stage's first-qualifying timestamp references
    the previous stage's, so they are sequential selects — but Catalyst
    sees the child already hash-partitioned by user_id and inserts no
    further exchange), then a hash aggregate. The oracle's three
    join-chained CTEs are the same dataflow; the window form avoids
    re-scanning events per stage. At 100 TB: events are already keyed by
    user in any real layout, and window state per user is three
    timestamps — no skew risk beyond a single hot user's partition.
    """
    w = W.partitionBy("user_id")
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    staged = (
        ev.withColumn(
            "vt", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "ct",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("vt")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "pt",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("ct")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("vt").alias("vt"), F.max("ct").alias("ct"), F.max("pt").alias("pt")
    )
    return per_user.agg(
        F.count("vt").alias("n_view"),
        F.count("ct").alias("n_click"),
        F.count("pt").alias("n_purchase"),
    )


# ---------------------------------------------------------------------------
# Cohort retention
# ---------------------------------------------------------------------------

@register(
    "cohort_retention",
    oracle="""
    WITH s AS (
        SELECT user_id,
               CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cw
        FROM events WHERE event_type = 'signup' GROUP BY 1)
    SELECT CAST(epoch_ms(s.cw) AS BIGINT) AS cohort_week_ms,
           CAST((epoch_ms(CAST(date_trunc('week', e.ts) AS TIMESTAMP))
                 - epoch_ms(s.cw)) / 604800000 AS BIGINT) AS week_offset,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM events e JOIN s ON e.user_id = s.user_id
    WHERE e.ts >= s.cw
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix: users who signed up in week W that
    were active again in week W+k, for every (W, k).

    Plan: the signup dimension is one hash-agg over the signup slice
    (tiny vs the event log — broadcast to the activity join, so the only
    shuffle over the full log is the final (cohort, offset) aggregate
    with a distinct-user expand; at 100 TB swap COUNT(DISTINCT) for an
    HLL sketch per `plans.sketches`). Week arithmetic is integer
    epoch-ms — identical on both engines, no timezone dependence beyond
    the shared session UTC.
    """
    ev = _events(spark, sf_dir)
    signups = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_signup"))
        .select("user_id", F.date_trunc("week", "first_signup").alias("cw"))
    )
    joined = ev.join(F.broadcast(signups), "user_id").where(F.col("ts") >= F.col("cw"))
    keyed = joined.select(
        F.unix_millis("cw").alias("cohort_week_ms"),
        (
            (F.unix_millis(F.date_trunc("week", F.col("ts"))) - F.unix_millis("cw"))
            / F.lit(604800000)
        )
        .cast("bigint")
        .alias("week_offset"),
        "user_id",
    )
    # two-stage distinct: dedupe (cell, user) with map-side partials, then
    # count — no COUNT(DISTINCT) buffer, strictly less shuffled data
    return (
        keyed.groupBy("cohort_week_ms", "week_offset", "user_id")
        .agg(F.lit(1).alias("_one"))
        .groupBy("cohort_week_ms", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .transform(lambda d: catalog_sort(d, "cohort_week_ms", "week_offset"))
    )


# ---------------------------------------------------------------------------
# Gap-fill + forward-fill resample
# ---------------------------------------------------------------------------

RESAMPLE_THRESHOLD = 90.0  # value cut that leaves some (type, day) cells empty


@register(
    "resample_ffill",
    oracle=f"""
    WITH grid AS (
        SELECT t.event_type, d.day
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (
            SELECT CAST(UNNEST(generate_series(DATE '2024-01-01',
                                               DATE '2024-01-30',
                                               INTERVAL 1 DAY)) AS DATE) AS day) d),
    obs AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               ROUND(MAX(value), 2) AS v
        FROM events WHERE value > {RESAMPLE_THRESHOLD}
        GROUP BY 1, 2)
    SELECT grid.event_type,
           date_diff('day', DATE '1970-01-01', grid.day) AS day_idx,
           last_value(obs.v IGNORE NULLS) OVER (
               PARTITION BY grid.event_type ORDER BY grid.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
    FROM grid LEFT JOIN obs
      ON grid.event_type = obs.event_type AND grid.day = obs.day
    ORDER BY 1, 2
    """,
)
def resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize a sparse per-series daily metric onto a dense calendar
    grid, forward-filling gaps (the time-series resample every monitoring
    or feature-extraction pipeline needs; leading gaps stay NULL rather
    than inventing a value).

    Plan: observations are one hash-agg; the dense grid is generated
    in-plan (`sequence` + explode — series x days rows, never collected);
    the left join keys on (series, day); the forward fill is
    `last(ignorenulls)` over a window PARTITIONED BY SERIES — each
    series' fill is independent, so the stage parallelizes across series
    and no global-order window appears. At 100 TB the grid is
    |series| x |days| which is metadata-sized relative to the event log.
    """
    ev = _events(spark, sf_dir)
    types = ev.select("event_type").distinct()
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-30").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    grid = types.crossJoin(F.broadcast(days))
    obs = (
        ev.where(F.col("value") > RESAMPLE_THRESHOLD)
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.round(F.max("value"), 2).alias("v"))
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        grid.join(F.broadcast(obs), ["event_type", "day"], "left")
        .withColumn("v_filled", F.last("v", ignorenulls=True).over(w))
        .select(
            "event_type",
            F.unix_date("day").cast("bigint").alias("day_idx"),
            "v_filled",
        )
        # the grid is calendar-bounded (types × days), so the merged sort's
        # single task sees a catalog-sized input
        .transform(lambda d: catalog_sort(d, "event_type", "day_idx"))
    )


# ---------------------------------------------------------------------------
# Column profiling
# ---------------------------------------------------------------------------

PROFILE_COLS = ["l_discount", "l_extendedprice", "l_quantity", "l_tax"]

@register(
    "profile_columns",
    oracle="\nUNION ALL\n".join(
        f"""
        SELECT '{c}' AS col_name,
               COUNT(*) AS n_rows,
               COUNT(*) - COUNT({c}) AS n_nulls,
               COUNT(DISTINCT {c}) AS ndv,
               CAST(MIN({c}) AS DOUBLE) AS min_v,
               CAST(MAX({c}) AS DOUBLE) AS max_v,
               ROUND(AVG({c}), 2) AS avg_v
        FROM lineitem
        """
        for c in PROFILE_COLS
    )
    + "\nORDER BY col_name",
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profiling: per-column count/nulls/NDV/min/max/mean for the
    lineitem measures, one row per column (the schema-quality report a
    training pipeline emits before ingesting a new drop).

    Plan: ONE scan tags every value with its column name (an in-row
    4-wide explode, pure codegen) and ONE hash aggregate keyed by
    (col_name, value) collapses the stream to per-value counts — the
    map-side combine shrinks the exchange to the NDV rows, after which
    a 4-key final aggregate derives every metric exactly: n_rows =
    Σcnt, nulls from the NULL value-group, NDV = the non-null group
    count, min/max directly, and the mean as Σ(v·cnt)/Σcnt (identical
    value multiset → same 2-dp rounded mean). Two earlier forms stay
    in PERF.md's ledger: the multi-distinct Expand (2.3× slower) and
    the four unioned single-distinct branches (8 stages of per-branch
    two-phase distinct; right plan at cluster scale, but at sf0.1 the
    job floor × 8 dominated — 1.3 s against a 0.07 s oracle, VERDICT
    r9 #3). This form is two shuffles total, and the heavy one carries
    (col, value, cnt) triples bounded by the NDV. At 100 TB swap exact
    NDV for `approx_count_distinct` and the whole report collapses to
    a map-side scalar agg; exact kept for oracle parity.
    """
    # (col, value) count-table memo (VERDICT r9 #3 "count-table
    # memoization the rest"): the heavy NDV-bounded aggregate — the only
    # stage that touches corpus-sized data — is built once per
    # (session, corpus, column set) and cached, the _minhash_signatures
    # pattern; every later call derives the 4-row report from it. In
    # production this table IS the ANALYZE-stats artifact a lakehouse
    # maintains at write time (Delta/Iceberg column stats).
    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        tagged = li.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("col_name"),
                            # explicit double pins the array element type:
                            # PROFILE_COLS are all numeric today, but a
                            # diverging column type must not become an
                            # analysis error in the array() (ADVICE r10)
                            F.col(c).cast("double").alias("v"),
                        )
                        for c in PROFILE_COLS
                    ]
                )
            ).alias("e")
        ).select("e.col_name", "e.v")
        return (
            tagged.groupBy("col_name", "v")
            .agg(F.count(F.lit(1)).alias("cnt"))
            # coalesce-before-cache: see tokenized.source_gram_masks
            .coalesce(spark.sparkContext.defaultParallelism)
            .cache()
        )

    per_val = memo(spark, (profile_columns, sf_dir, tuple(PROFILE_COLS)), build)
    agg = per_val.groupBy("col_name").agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("v").isNull(), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_nulls"),
        F.count("v").cast("bigint").alias("ndv"),
        F.min("v").cast("double").alias("min_v"),
        F.max("v").cast("double").alias("max_v"),
        F.round(
            F.sum(F.col("v") * F.col("cnt"))
            / F.sum(
                F.when(F.col("v").isNotNull(), F.col("cnt")).otherwise(0)
            ),
            2,
        ).alias("avg_v"),
    )
    # left-join against the static column-name frame so an EMPTY table
    # still reports one zero-count row per column, matching the oracle's
    # per-branch scalar aggregates (ADVICE r10). Built as a literal
    # explode over range(1) — createDataFrame pays a py4j round-trip and
    # a schema job per call (measured +0.8 s on the warm sf0.1 median)
    names = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(c) for c in PROFILE_COLS])
        ).alias("col_name")
    )
    return (
        names.join(F.broadcast(agg), "col_name", "left")
        .select(
            "col_name",
            F.coalesce("n_rows", F.lit(0)).cast("bigint").alias("n_rows"),
            F.coalesce("n_nulls", F.lit(0)).cast("bigint").alias("n_nulls"),
            F.coalesce("ndv", F.lit(0)).cast("bigint").alias("ndv"),
            "min_v",
            "max_v",
            "avg_v",
        )
        .transform(lambda d: catalog_sort(d, "col_name"))
    )


# ---------------------------------------------------------------------------
# Weighted sampling (A-ES / Efraimidis-Spirakis, derandomized)
# ---------------------------------------------------------------------------

WEIGHTED_SEED = 42
WEIGHTED_K = 25


@register(
    "sample_weighted",
    oracle=f"""
    SELECT doc_id, source, n_chars FROM (
        SELECT doc_id, source, n_chars,
               ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':{WEIGHTED_SEED}'),
                     1, 8))::BIGINT + 1) / 4294967296.0) / n_chars AS akey
        FROM documents)
    ORDER BY akey DESC, doc_id LIMIT {WEIGHTED_K}
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement, k=25, weight = n_chars
    (Efraimidis-Spirakis A-ES: key = u^(1/w) with u~U(0,1]; ordering by
    ln(u)/w is the log-domain equivalent and avoids pow underflow).

    Derandomized: u is md5(doc_id:seed)'s first 32 bits mapped to (0,1],
    so the SAME k documents come out on every engine, run, and cluster
    layout — the reproducibility contract sampling inside a training
    pipeline must honor. Plan: map-side key computation +
    TakeOrderedAndProject (per-partition top-k heaps merged on the
    driver) — no global sort, no RNG state. doc_id tiebreak makes the
    order total even under (impossible-in-fixture) key collisions.

    A non-positive weight would make the key NULL/degenerate — and the
    two engines order NULLs on opposite ends under DESC — so it fails
    loudly inside the executed plan instead (the epoch_shuffle guard
    idiom).
    """
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{WEIGHTED_SEED}"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        + 1
    ) / F.lit(4294967296.0)
    weight = F.when(
        F.col("n_chars").isNull() | (F.col("n_chars") <= 0),
        F.raise_error(
            F.lit("sample_weighted: weight must be > 0 (got null or <= 0)")
        ).cast("bigint"),
    ).otherwise(F.col("n_chars"))
    return (
        load_table(spark, sf_dir, "documents")
        .withColumn("akey", F.log(u) / weight)
        .orderBy(F.col("akey").desc(), "doc_id")
        .select("doc_id", "source", "n_chars")
        .limit(WEIGHTED_K)
    )


@register(
    "sample_weighted_stratified",
    oracle=f"""
    SELECT lang, doc_id, n_chars FROM (
        SELECT lang, doc_id, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                 || ':{WEIGHTED_SEED}'), 1, 8))::BIGINT + 1)
                             / 4294967296.0) / n_chars DESC, doc_id) AS rn
        FROM documents)
    WHERE rn <= 10 ORDER BY lang, doc_id
    """,
)
def sample_weighted_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum weighted sample: the A-ES key of `sample_weighted`,
    taken top-10 PER LANG via a lang-partitioned row_number — k weighted
    picks from every stratum in one pass, reproducible at any
    parallelism (the per-language balanced-selection step a multilingual
    corpus build runs after quality gating).

    Plan: map-side key + window partitioned by lang (parallel across
    strata; rank-then-filter stops mattering past k, same posture note
    as source_quota)."""
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{WEIGHTED_SEED}"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        + 1
    ) / F.lit(4294967296.0)
    w = W.partitionBy("lang").orderBy((F.log(u) / F.col("n_chars")).desc(), "doc_id")
    return (
        load_table(spark, sf_dir, "documents")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("lang", "doc_id", "n_chars")
        # repartition(1) keeps the corpus-sized ranking window at width
        .transform(lambda d: filtered_sort(d, "lang", "doc_id"))
    )


# ---------------------------------------------------------------------------
# Inter-arrival statistics
# ---------------------------------------------------------------------------

@register(
    "interarrival_stats",
    oracle="""
    WITH gaps AS (
        SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP))
               - epoch_us(CAST(LAG(ts) OVER (
                     PARTITION BY event_type ORDER BY ts, event_id
                 ) AS TIMESTAMP)) AS gap_us
        FROM events)
    SELECT event_type,
           COUNT(gap_us) AS n_gaps,
           CAST(ROUND(AVG(gap_us) / 1000) AS BIGINT) AS avg_gap_ms,
           CAST(FLOOR(MAX(gap_us) / 1000) AS BIGINT) AS max_gap_ms
    FROM gaps GROUP BY event_type ORDER BY event_type
    """,
)
def interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream inter-arrival time statistics (the liveness/health
    signal an event-store operator watches: `A1 replication lag` is this
    query's streaming twin, `core/store.py:381`).

    LAG over (event_type | ts, event_id) — the event_id tiebreak makes
    the gap sequence deterministic under equal timestamps. One shuffle
    (window and the aggregate share the event_type partitioning). Gap
    math in integer microseconds end-to-end; the ms conversion divides
    exact integers, so both engines round identically.
    """
    ev = _events(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (
            F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us"),
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            F.round(F.avg("gap_us") / 1000).cast("bigint").alias("avg_gap_ms"),
            F.floor(F.max("gap_us") / 1000).cast("bigint").alias("max_gap_ms"),
        )
        .transform(lambda d: catalog_sort(d, "event_type"))
    )


# ---------------------------------------------------------------------------
# Equi-width histogram
# ---------------------------------------------------------------------------

HIST_BINS = 20


@register(
    "price_histogram",
    oracle=f"""
    WITH bounds AS (
        SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders)
    SELECT LEAST(CAST(FLOOR((o_totalprice - lo) * {HIST_BINS}.0 / (hi - lo))
                      AS INT), {HIST_BINS - 1}) AS bin,
           COUNT(*) AS cnt,
           ROUND(MIN(o_totalprice), 2) AS bin_min,
           ROUND(MAX(o_totalprice), 2) AS bin_max
    FROM orders, bounds
    GROUP BY 1 ORDER BY 1
    """,
)
def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bin histogram of order totals (the distribution
    profile behind outlier cuts and quantile sanity checks).

    Two-pass by necessity (bounds, then binning), but pass one reduces to
    a 1-row aggregate that is broadcast into pass two (the repo's
    standard one-row crossJoin — no shuffle of the fact side beyond the
    final per-bin agg). Bin arithmetic keeps the exact expression shape
    `(x - lo) * B / (hi - lo)` so both engines evaluate identical IEEE
    doubles; the LEAST clamp folds the hi endpoint into the last bin.
    """
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    binned = orders.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.floor(
                (F.col("o_totalprice") - F.col("lo"))
                * F.lit(float(HIST_BINS))
                / (F.col("hi") - F.col("lo"))
            ).cast("int"),
            F.lit(HIST_BINS - 1),
        ).alias("bin"),
        "o_totalprice",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.min("o_totalprice"), 2).alias("bin_min"),
            F.round(F.max("o_totalprice"), 2).alias("bin_max"),
        )
        .transform(lambda d: catalog_sort(d, "bin"))
    )


# ---------------------------------------------------------------------------
# Bigram LM scoring (add-one smoothed)
# ---------------------------------------------------------------------------

@register(
    "text_bigram_logprob",
    oracle=r"""
    WITH tok AS (SELECT doc_id, lang,
                        string_split_regex(trim(text), '\s+') AS t
                 FROM documents),
    uni AS (SELECT UNNEST(t) AS w FROM tok),
    c1 AS (SELECT w, COUNT(*) AS cnt1 FROM uni GROUP BY w),
    v AS (SELECT COUNT(*) AS vs FROM c1),
    big AS (SELECT doc_id, lang, t[i] AS w1, t[i + 1] AS w2
            FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS g(i)),
    c2 AS (SELECT w1, w2, COUNT(*) AS cnt2 FROM big GROUP BY w1, w2),
    scored AS (
        SELECT b.doc_id, b.lang,
               AVG(-LN((c2.cnt2 + 1.0) / (c1.cnt1 + v.vs))) AS nll
        FROM big b
        JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
        JOIN c1 ON b.w1 = c1.w, v
        GROUP BY b.doc_id, b.lang),
    banded AS (SELECT lang, CAST(FLOOR(ROUND(nll, 6)) AS BIGINT) AS nll_band
               FROM scored)
    SELECT lang, nll_band, COUNT(*) AS n_docs
    FROM banded GROUP BY lang, nll_band ORDER BY lang, nll_band
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average bigram negative log-likelihood with add-one
    smoothing (P(w2|w1) = (c(w1,w2)+1)/(c(w1)+V)), banded per lang — the
    order-2 upgrade of `text_unigram_logprob`: repetitive boilerplate
    scores much lower NLL under a bigram model than under unigrams, so
    the two bands together separate fluent text / boilerplate / gibberish.

    Plan: ONE tokenization feeds both count tables (bigram counts by
    (w1,w2), unigram counts by w1) which join back onto the bigram stream
    as broadcasts (Zipf: distinct n-grams << corpus n-grams; at a scale
    where the bigram vocabulary outgrows broadcast, the (w1,w2) join
    degrades gracefully to a shuffled equi-join — same plan, one more
    exchange). V rides as a broadcast scalar. Banding (floor of the
    6dp-rounded NLL) pins the parallel-summation last bits on both
    engines, exactly as the unigram query does.
    """
    from event_store_spark.plans.tokenized import tokenized_docs

    # tokens and token pairs travel as xxhash64 longs, never as strings:
    # count tables key on 8-byte hashes (smaller shuffles + broadcasts,
    # codegen-friendly joins), the same fingerprint contract as
    # duplicate_spans' word_ngram_hashes — a 64-bit collision would merge
    # two count rows, at probability ~(distinct bigrams)^2 / 2^64.
    # Token hashes come pre-computed from the ingest-tokenized side table
    # (plans/tokenized.py): the plan prunes to (doc_id, lang, th) and the
    # bigram key folds the two TOKEN HASHES (xxhash64(th_i, th_{i+1}))
    # instead of re-hashing the strings — same fingerprint-key contract
    # (equal keys ⇔ equal bigrams up to 2^-64), zero query-time strings.
    tok = tokenized_docs(
        spark, sf_dir,
        docs_fn=lambda: load_table(spark, sf_dir, "documents"),
    ).select("doc_id", "lang", "th")
    uni = tok.select(F.explode("th").alias("h1"))
    c1 = uni.groupBy("h1").agg(F.count(F.lit(1)).alias("cnt1"))
    v = c1.agg(F.count(F.lit(1)).alias("vs"))
    big = tok.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(slice(th, 1, size(th) - 1),"
                " (x, i) -> struct(x AS h1, xxhash64(x, th[i + 1]) AS h2))"
            )
        ).alias("p"),
    ).select("doc_id", "lang", "p.h1", "p.h2")
    c2 = big.groupBy("h2").agg(F.count(F.lit(1)).alias("cnt2"))
    scored = (
        big.join(F.broadcast(c2), "h2")
        .join(F.broadcast(c1), "h1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id", "lang")
        .agg(
            F.avg(
                -F.log((F.col("cnt2") + F.lit(1.0)) / (F.col("cnt1") + F.col("vs")))
            ).alias("nll")
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


# ---------------------------------------------------------------------------
# Source distribution drift (KL divergence)
# ---------------------------------------------------------------------------

@register(
    "source_token_drift",
    oracle=r"""
    WITH tok AS (SELECT source,
                        UNNEST(string_split_regex(trim(text), '\s+')) AS t
                 FROM documents),
    st AS (SELECT source, t, COUNT(*) AS c_st FROM tok GROUP BY source, t),
    s AS (SELECT source, SUM(c_st) AS n_s FROM st GROUP BY source),
    ct AS (SELECT t, SUM(c_st) AS c_t FROM st GROUP BY t),
    n AS (SELECT SUM(c_t) AS total FROM ct),
    terms AS (
        SELECT st.source,
               (CAST(st.c_st AS DOUBLE) / s.n_s)
               * LN((CAST(st.c_st AS DOUBLE) / s.n_s)
                    / (CAST(ct.c_t AS DOUBLE) / n.total)) AS term
        FROM st JOIN s ON st.source = s.source
                JOIN ct ON st.t = ct.t, n)
    SELECT source,
           CAST(FLOOR(ROUND(SUM(term) * 100, 6)) AS BIGINT) AS kl_centinat_band
    FROM terms GROUP BY source ORDER BY source
    """,
)
def source_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift monitor: KL(P_source || P_corpus) over token
    unigram distributions, per source, in centi-nat bands — the corpus-QA
    signal that flags a domain whose language drifted from the mixture
    (new crawl snapshot, broken extractor, spam influx) before it
    contaminates a training run.

    Plan: ONE tokenization; (source, token) counts are the only
    corpus-scale aggregate, and every subsequent table (per-source
    totals, corpus token counts, corpus total) REUSES that aggregate —
    nothing re-scans documents. Token marginals join back broadcast
    (Zipf-bounded vocabulary); per-source totals likewise (O(#sources)).
    Banding (floor of the 6dp-rounded centi-nats) absorbs the
    parallel-summation last bits on both engines, per the logprob
    queries' idiom. KL is finite by construction: every (source, token)
    pair is a subset of the corpus support, so q > 0 wherever p > 0.
    """
    from event_store_spark.functions.text import whitespace_tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(whitespace_tokens("text")).alias("t")
    )
    st = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c_st"))
    s = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    ct = st.groupBy("t").agg(F.sum("c_st").alias("c_t"))
    n = ct.agg(F.sum("c_t").alias("total"))
    p = F.col("c_st").cast("double") / F.col("n_s")
    q = F.col("c_t").cast("double") / F.col("total")
    terms = (
        st.join(F.broadcast(s), "source")
        .join(F.broadcast(ct), "t")
        .crossJoin(F.broadcast(n))
        .select("source", (p * F.log(p / q)).alias("term"))
    )
    return (
        terms.groupBy("source")
        .agg(
            F.floor(F.round(F.sum("term") * 100, 6))
            .cast("bigint")
            .alias("kl_centinat_band")
        )
        .transform(lambda d: catalog_sort(d, "source"))
    )


# ---------------------------------------------------------------------------
# Event-rate anomaly detection
# ---------------------------------------------------------------------------

ANOMALY_Z = 2.0


@register(
    "event_rate_anomalies",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2),
    stats AS (
        SELECT event_type,
               COUNT(*) AS n_days,
               SUM(cnt) AS s1,
               SUM(cnt * cnt) AS s2
        FROM daily GROUP BY event_type),
    scored AS (
        SELECT d.event_type,
               date_diff('day', DATE '1970-01-01', d.day) AS day_idx,
               d.cnt,
               (d.cnt - CAST(st.s1 AS DOUBLE) / st.n_days)
               / sqrt((st.s2 - CAST(st.s1 AS DOUBLE) * st.s1 / st.n_days)
                      / (st.n_days - 1)) AS z
        FROM daily d JOIN stats st ON d.event_type = st.event_type
        WHERE st.n_days > 1)
    SELECT event_type, day_idx, cnt,
           CAST(FLOOR(ROUND(z * 100, 6)) AS BIGINT) AS z_centi_band
    FROM scored WHERE abs(z) > {ANOMALY_Z}
    ORDER BY event_type, day_idx
    """,
)
def event_rate_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly days per event stream: daily counts more than
    {ANOMALY_Z} sample standard deviations from that stream's mean — the
    operational alarm (ingestion broke / a producer went rogue) an
    event-store operator runs continuously; A1's lag gauge catches
    stalls, this catches rate excursions.

    Determinism: mean and stddev are derived from INTEGER sums
    (sum, sum-of-squares, n) via the explicit textbook formula rather
    than builtin stddev — integer sums are order-independent, so both
    engines compute bit-identical doubles and the |z| > {ANOMALY_Z} cut
    cannot straddle engines; the emitted z is banded anyway. Plan: one
    (type, day) hash agg over the log; per-type stats are O(#types) rows
    joined back broadcast.
    """
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("cnt").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_days")
    var = (
        F.col("s2") - F.col("s1").cast("double") * F.col("s1") / F.col("n_days")
    ) / (F.col("n_days") - 1)
    z = (F.col("cnt") - mean) / F.sqrt(var)
    return (
        daily.join(F.broadcast(stats), "event_type")
        .where(F.col("n_days") > 1)
        .withColumn("z", z)
        .where(F.abs("z") > ANOMALY_Z)
        .select(
            "event_type",
            F.unix_date("day").cast("bigint").alias("day_idx"),
            "cnt",
            F.floor(F.round(F.col("z") * 100, 6)).cast("bigint").alias("z_centi_band"),
        )
        # daily is a (type × day) aggregate — catalog-sized into the merge
        .transform(lambda d: catalog_sort(d, "event_type", "day_idx"))
    )


# ---------------------------------------------------------------------------
# Windowed funnel + transition matrix
# ---------------------------------------------------------------------------

FUNNEL_WINDOW_DAYS = 7


@register(
    "funnel_windowed",
    oracle=f"""
    WITH v AS (
        SELECT user_id, MIN(ts) AS vt FROM events
        WHERE event_type = 'view' GROUP BY 1),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS ct
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.vt
          AND e.ts <= v.vt + INTERVAL {FUNNEL_WINDOW_DAYS} DAY GROUP BY 1),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS pt
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.ct
          AND e.ts <= c.ct + INTERVAL {FUNNEL_WINDOW_DAYS} DAY GROUP BY 1)
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_click,
           (SELECT COUNT(*) FROM p) AS n_purchase
    """,
)
def funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deadline funnel: each stage must convert within
    {FUNNEL_WINDOW_DAYS} days of the previous stage's anchor (the form
    product analytics actually reports — an unbounded funnel credits a
    purchase a year after the view).

    Same single-shuffle three-window plan as `funnel_stages`; the
    deadline is one more predicate inside each stage's conditional min.
    """
    w = W.partitionBy("user_id")
    win = F.expr(f"INTERVAL {FUNNEL_WINDOW_DAYS} DAYS")
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    staged = (
        ev.withColumn(
            "vt", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "ct",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("vt"))
                    & (F.col("ts") <= F.col("vt") + win),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "pt",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("ct"))
                    & (F.col("ts") <= F.col("ct") + win),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("vt").alias("vt"), F.max("ct").alias("ct"), F.max("pt").alias("pt")
    )
    return per_user.agg(
        F.count("vt").alias("n_view"),
        F.count("ct").alias("n_click"),
        F.count("pt").alias("n_purchase"),
    )


@register(
    "event_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events),
    t AS (SELECT prev_type, event_type AS next_type, COUNT(*) AS cnt
          FROM seq WHERE prev_type IS NOT NULL
          GROUP BY prev_type, next_type),
    tot AS (SELECT prev_type, SUM(cnt) AS row_total FROM t GROUP BY prev_type)
    SELECT t.prev_type, t.next_type, t.cnt,
           CAST(FLOOR(10000.0 * t.cnt / tot.row_total) AS BIGINT) AS p_bp
    FROM t JOIN tot ON t.prev_type = tot.prev_type
    ORDER BY 1, 2
    """,
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition matrix: counts and row-normalized
    probabilities (basis points) of consecutive event-type pairs per user
    — the Markov/Sankey view of the event log.

    Plan: ONE shuffle on user_id for the LAG window (deterministic
    (ts, event_id) order), then a (prev, next) hash agg; row totals are
    O(#types^2) rows aggregated from the transition counts themselves and
    joined back broadcast — nothing re-scans the log. The basis-point
    floor is integer-exact on both engines.
    """
    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    t = (
        seq.groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = t.groupBy("prev_type").agg(F.sum("cnt").alias("row_total"))
    return (
        t.join(F.broadcast(tot), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "cnt",
            F.floor(10000.0 * F.col("cnt") / F.col("row_total"))
            .cast("bigint")
            .alias("p_bp"),
        )
        .transform(lambda d: catalog_sort(d, "prev_type", "next_type"))
    )
