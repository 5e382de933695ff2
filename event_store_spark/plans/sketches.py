"""Sketch/approximate operators — the 100 TB fast path for distinct counts
and quantiles — in ORACLE-AUDITABLE form.

Raw sketch values cannot be oracle-compared: Spark (HyperLogLog++,
Greenwald-Khanna) and DuckDB (its own HLL / t-digest) implement different
approximation algorithms, so cross-engine value equality is undefined. What
IS cross-engine checkable is the accuracy CONTRACT: each query computes the
sketch AND its exact reference in one plan and returns the exact value plus
a within-bound verdict; the oracle recomputes the exact value and asserts
the verdict literally TRUE. A sketch drifting out of its stated error bound
now fails the driver's hash check, not just a local test.

(At 100 TB you run only the sketch half — the exact column here is the
audit harness, not the production path; `tests/test_sketches.py` pins the
numeric error separately.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_store_spark.plans.finalsort import catalog_sort
from event_store_spark.plans.registry import register
from event_store_spark.tables import hot_table, load_table

#: HLL++ relative standard deviation target; the audit accepts 5×rsd —
#: generous against the ~3σ tail while still catching real drift
HLL_RSD = 0.02
HLL_TOLERANCE = 5 * HLL_RSD

#: Greenwald-Khanna accuracy parameter: rank error ≤ n/GK_ACCURACY
GK_ACCURACY = 10_000


@register(
    "approx_distinct_users",
    oracle="""
    SELECT event_type,
           COUNT(*) AS cnt,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           1 AS approx_ok
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users per event type, audited in-plan: the
    sketch estimate must land within 5×rsd of the exact COUNT(DISTINCT)
    computed in the same aggregation. The oracle re-derives the exact
    column and pins `approx_ok` to 1, so the sketch's accuracy contract
    is hash-checked by the driver.

    Scale: the HLL half is one pass with fixed memory per group and
    partial-mergeable state; the exact half exists only as the audit.
    The exact count is two-stage (groupBy (type, user) then count per
    type) rather than COUNT(DISTINCT) in-agg: same answer, but no
    Catalyst Expand multiplying the row stream, and the first shuffle's
    map-side partials collapse duplicate (type, user) pairs — measured
    ~2x faster at sf0.1 and strictly less shuffled data at any scale.
    HLL is duplicate-insensitive, so sketching the deduped pairs yields
    the identical estimator."""
    per_pair = (
        hot_table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return (
        per_pair.groupBy("event_type")
        .agg(
            F.sum("_c").alias("cnt"),
            F.count(F.lit(1)).alias("exact_users"),
            F.approx_count_distinct("user_id", rsd=HLL_RSD).alias("_approx"),
        )
        .select(
            "event_type",
            "cnt",
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                <= F.col("exact_users") * F.lit(HLL_TOLERANCE)
            ).cast("int").alias("approx_ok"),
        )
        .transform(lambda d: catalog_sort(d, "event_type"))
    )


@register(
    "approx_price_quantiles",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           1 AS ok25, 1 AS ok50, 1 AS ok75
    FROM orders
    """,
)
def approx_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna order-price quartiles, audited by RANK error.

    GK guarantees the returned element COVERS some rank within n/accuracy
    of the target — i.e. the interval [count(<v)+1, count(<=v)] of ranks
    the value occupies overlaps [q·n − slack, q·n + slack]. With heavily
    duplicated values at a quartile, count(<=v) alone can legitimately
    exceed q·n + slack (the duplicate run extends past the window), so the
    audit checks interval OVERLAP, not the one-sided count (ADVICE r4):
    count(<v) <= q·n + slack AND count(<=v) >= q·n − slack. The oracle pins
    all three verdicts TRUE.

    The audit is two aggregations composed in ONE plan (no driver loop):
    the 1-row quantile estimate broadcast-joins back onto the scan for the
    rank counts. A value-space bound would be wrong — GK's guarantee is in
    rank space, so that's what the audit measures."""
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    est = orders.agg(
        F.percentile_approx("o_totalprice", F.lit(0.25), F.lit(GK_ACCURACY)).alias("_p25"),
        F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(GK_ACCURACY)).alias("_p50"),
        F.percentile_approx("o_totalprice", F.lit(0.75), F.lit(GK_ACCURACY)).alias("_p75"),
    )
    audited = orders.crossJoin(F.broadcast(est)).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("o_totalprice") < F.col("_p25")).cast("long")).alias("_lt25"),
        F.sum((F.col("o_totalprice") <= F.col("_p25")).cast("long")).alias("_le25"),
        F.sum((F.col("o_totalprice") < F.col("_p50")).cast("long")).alias("_lt50"),
        F.sum((F.col("o_totalprice") <= F.col("_p50")).cast("long")).alias("_le50"),
        F.sum((F.col("o_totalprice") < F.col("_p75")).cast("long")).alias("_lt75"),
        F.sum((F.col("o_totalprice") <= F.col("_p75")).cast("long")).alias("_le75"),
    )
    slack = F.col("n") / F.lit(GK_ACCURACY) + F.lit(1)

    def ok(lt_col: str, le_col: str, q: float):
        # v covers ranks [count(<v)+1, count(<=v)]; overlap with
        # [target-slack, target+slack] requires the interval START
        # (count(<v)+1) to sit at or below the upper bound
        target = F.col("n") * F.lit(q)
        return (
            (F.col(lt_col) + 1 <= target + slack)
            & (F.col(le_col) >= target - slack)
        ).cast("int").alias(f"ok{int(q * 100)}")

    return audited.select(
        "n",
        ok("_lt25", "_le25", 0.25),
        ok("_lt50", "_le50", 0.5),
        ok("_lt75", "_le75", 0.75),
    )


#: Count-min sketch geometry: depth 4 seeded hash rows × width 256.
#: eps = e / width ≈ 1.06% of the stream length, delta = e^-depth ≈ 1.8%.
CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_TOPK = 20
_CMS_EPS_NUM = 2.718281828459045  # e, as the same double literal both sides


def _oracle_bucket(tok: str, seed: str) -> str:
    """DuckDB CMS bucket with PINNED semantics: the md5 window's value mod
    width is its last byte (width 256 = 16², so the mod depends only on
    the final two hex chars), parsed by explicit strpos arithmetic. The
    first cut used `('0x' || substr(md5, ...))::BIGINT` — a hex-literal
    string cast whose behavior is a DuckDB-version surface (ADVICE r5);
    strpos over a digit table has one meaning everywhere."""
    assert CMS_WIDTH == 256, "bucket = last md5 byte only holds for width 256"
    digit = "strpos('0123456789abcdef', substr(md5({t}), {p} + 8 * {s}, 1)) - 1"
    hi = digit.format(t=tok, p=7, s=seed)
    lo = digit.format(t=tok, p=8, s=seed)
    return f"(({hi}) * 16 + ({lo}))"


@register(
    "approx_token_counts_cms",
    oracle=f"""
    WITH tokcnt AS (SELECT t, COUNT(*) AS cnt
                    FROM (SELECT UNNEST(string_split_regex(trim(text),
                                        '\\s+')) AS t
                          FROM documents)
                    GROUP BY t),
    n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM tokcnt),
    cms AS (SELECT seed,
                   {_oracle_bucket('t', 'seed')} AS bucket,
                   CAST(SUM(cnt) AS BIGINT) AS c
            FROM tokcnt, (SELECT UNNEST(range({CMS_DEPTH})) AS seed) s
            GROUP BY 1, 2),
    exact AS (SELECT t, cnt AS exact_cnt FROM tokcnt
              ORDER BY cnt DESC, t LIMIT {CMS_TOPK}),
    probes AS (SELECT e.t, e.exact_cnt, s.seed,
                      {_oracle_bucket('e.t', 's.seed')} AS bucket
               FROM exact e, (SELECT UNNEST(range({CMS_DEPTH})) AS seed) s),
    est AS (SELECT p.t, p.exact_cnt, MIN(c.c) AS est_cnt
            FROM probes p JOIN cms c USING (seed, bucket)
            GROUP BY p.t, p.exact_cnt)
    SELECT t AS token, exact_cnt, est_cnt,
           CAST(est_cnt >= exact_cnt AS INT) AS no_underestimate,
           CAST(est_cnt <= exact_cnt
             + CAST(CEIL({_CMS_EPS_NUM} / {CMS_WIDTH} * n.total) AS BIGINT)
               AS INT) AS within_eps
    FROM est, n ORDER BY exact_cnt DESC, token
    """,
)
def approx_token_counts_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch token frequencies, audited against exact counts.

    Unlike the HLL/GK queries (engine-native sketches, only the accuracy
    VERDICT is comparable), this CMS is built in-plan from deterministic
    md5 row hashes, so the oracle reproduces the ESTIMATES bit-for-bit:
    est_cnt itself is hash-checked, plus the two contract columns (CMS
    never underestimates; overestimate ≤ ceil(e/width × stream length)
    with prob 1−e^−depth — deterministically true here since both engines
    compute the same table).

    ONE corpus tokenization feeds everything: the per-token count table
    (which the audit needs anyway) is the base for the CMS (explode its
    distinct tokens × depth, SUM counts into ≤ depth×width buckets), the
    exact top-k (a TakeOrdered on the same aggregate), and the stream
    length (SUM of the same counts) — the first cut tokenized the corpus
    three times and hashed every occurrence ×depth, measuring 1.99 s at
    sf0.1 vs 0.62 s for this form. The depth hash rows are the four
    disjoint 32-bit windows of ONE md5 per distinct token (pairwise
    independence across rows comes from window disjointness — the
    standard seeded-hash-family trick at a quarter of the hash work).

    Pure-stream caveat: pre-aggregating by token shuffles O(distinct
    tokens); the classic streaming CMS (hash each occurrence, fixed
    state, no token key) is the right build when even the distinct-token
    shuffle is too much — that form is the first cut above, it shares
    this oracle's values, and map-side partials bound its shuffle at
    depth×width rows per task. Here the audit requires exact counts, so
    the shared-aggregate form is strictly better."""
    docs = load_table(spark, sf_dir, "documents")
    tokcnt = (
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = tokcnt.agg(F.sum("cnt").alias("total"))

    def bucket(seed_col, tok_col):
        # value-mod-256 of the 8-hex-char window = its last byte; parse
        # just those two chars (conv of a 2-char string can't overflow or
        # sign-flip — the same pinned-semantics move as the oracle side)
        return F.conv(
            F.substring(F.md5(tok_col), F.lit(7) + F.lit(8) * seed_col, 2),
            16,
            10,
        ).cast("int")

    seeds = F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))
    cms = (
        tokcnt.select("cnt", F.explode(seeds).alias("seed"), "t")
        .select("cnt", "seed", bucket(F.col("seed"), F.col("t")).alias("bucket"))
        .groupBy("seed", "bucket")
        .agg(F.sum("cnt").alias("c"))
    )
    exact = (
        tokcnt.select("t", F.col("cnt").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "t")
        .limit(CMS_TOPK)
    )
    probes = exact.select(
        "t", "exact_cnt", F.explode(seeds).alias("seed")
    ).select(
        "t", "exact_cnt", "seed", bucket(F.col("seed"), F.col("t")).alias("bucket")
    )
    est = (
        probes.join(F.broadcast(cms), ["seed", "bucket"])
        .groupBy("t", "exact_cnt")
        .agg(F.min("c").alias("est_cnt"))
    )
    slack = F.ceil(
        F.lit(_CMS_EPS_NUM) / F.lit(CMS_WIDTH) * F.col("total")
    ).cast("bigint")
    return (
        est.crossJoin(F.broadcast(total))
        .select(
            F.col("t").alias("token"),
            "exact_cnt",
            "est_cnt",
            (F.col("est_cnt") >= F.col("exact_cnt"))
            .cast("int")
            .alias("no_underestimate"),
            (F.col("est_cnt") <= F.col("exact_cnt") + slack)
            .cast("int")
            .alias("within_eps"),
        )
        .orderBy(F.col("exact_cnt").desc(), "token")
    )


#: Bloom-filter geometry: 3 hash rows into a 4096-slot bit space.
#: 4096 = 16^3, so each row's slot is the last THREE hex chars of one
#: md5 window — same pinned-parse discipline as the CMS bucket.
BLOOM_K = 3
BLOOM_BITS = 4096


def _bloom_slot_sql(key: str, seed: str) -> str:
    """DuckDB slot with pinned semantics (no hex-literal casts): parse the
    3 hex chars at the END of md5 window `seed` (windows are 8 chars wide
    starting at 1 + 8*seed) via strpos arithmetic."""
    assert BLOOM_BITS == 16 ** 3
    digit = (
        "strpos('0123456789abcdef', "
        f"substr(md5(CAST({key} AS VARCHAR)), {{p}} + 8 * {seed}, 1)) - 1"
    )
    d1, d2, d3 = (digit.format(p=p) for p in (6, 7, 8))
    return f"(({d1}) * 256 + ({d2}) * 16 + ({d3}))"


@register(
    "bloom_prefilter",
    oracle=f"""
    WITH build AS (SELECT DISTINCT l_partkey AS k FROM lineitem
                   WHERE l_returnflag = 'R' AND l_quantity >= 48),
    seeds AS (SELECT UNNEST(range({BLOOM_K})) AS seed),
    filt AS (SELECT DISTINCT seed, {_bloom_slot_sql('k', 'seed')} AS slot
             FROM build, seeds),
    probe AS (SELECT p_partkey AS k FROM part),
    probed AS (SELECT p.k, COUNT(f.slot) AS hits
               FROM probe p CROSS JOIN seeds s
               LEFT JOIN filt f
                 ON f.seed = s.seed
                AND f.slot = {_bloom_slot_sql('p.k', 's.seed')}
               GROUP BY p.k),
    verdicts AS (SELECT probed.k, hits = {BLOOM_K} AS maybe,
                        build.k IS NOT NULL AS member
                 FROM probed LEFT JOIN build ON probed.k = build.k)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
           CAST(SUM(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
           CAST(SUM(CASE WHEN maybe AND NOT member THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           CAST(MIN(CASE WHEN member AND NOT maybe THEN 0 ELSE 1 END)
                AS INT) AS no_false_negatives
    FROM verdicts
    """,
)
def bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join prefilter, built in-plan with deterministic
    md5 slot hashes so the oracle reproduces membership verdicts
    bit-for-bit (the same auditable-sketch move as
    `approx_token_counts_cms`): k=3 rows over a 4096-slot space, build
    side = parts with a returned lineitem, probe side = the part table.
    Output pins the Bloom contract — `no_false_negatives` must be 1 and
    the false-positive count is itself hash-checked.

    This is THE scan-pruning pattern at 100 TB (Spark's own runtime
    row-group filters build exactly this structure): the materialized
    filter is O(k × slots) BITS — k bitmaps of 64 longs, built from a
    bounded ≤ 12,288-row collect and shipped to
    probe tasks as LITERALS — so probing is a pure map-side bit test
    (three shiftright/AND lookups per row); the fact table never
    shuffles, joins, or aggregates to discover which keys might match.
    The exact semi-join half exists here only as the audit (at scale you
    run the filter to PRUNE before the real join, trading false
    positives for never shuffling the big side).

    Engine slots use conv() on the identical 3-hex-char windows the
    oracle parses via strpos — both pinned-semantics constructs
    (ADVICE r5 re hex-literal casts)."""
    part = load_table(spark, sf_dir, "part")
    seeds = F.sequence(F.lit(0), F.lit(BLOOM_K - 1))

    def slot(key_col, seed_col):
        return F.conv(
            F.substring(
                F.md5(key_col.cast("string")),
                F.lit(6) + F.lit(8) * seed_col,
                3,
            ),
            16,
            10,
        ).cast("int")

    # the build-key set (distinct keys ≤ |part|) feeds both the filter
    # and the audit's membership join; built per call, as its one
    # registered query reads it once
    li = load_table(spark, sf_dir, "lineitem")
    build = (
        li.where(
            (F.col("l_returnflag") == "R") & (F.col("l_quantity") >= 48)
        )
        .select(F.col("l_partkey").alias("k"))
        .distinct()
    )
    # materialize the filter itself as k BITMAPS of 4096 bits (64
    # longs each) — the structure is O(k x slots) BITS regardless of
    # build-set size, so collecting it is a bounded driver fold
    # (≤ 12,288 rows; the centroid-collect class) and probing becomes
    # a pure map-side expression riding as literals: exactly how a
    # runtime row-group filter ships to scan tasks
    filt_rows = (
        build.select(F.explode(seeds).alias("seed"), "k")
        .select("seed", slot(F.col("k"), F.col("seed")).alias("slot"))
        .distinct()
        .collect()
    )
    bits = [[0] * 64 for _ in range(BLOOM_K)]
    for r in filt_rows:
        bits[r["seed"]][r["slot"] >> 6] |= 1 << (r["slot"] & 63)
    signed = [
        [w - (1 << 64) if w >= (1 << 63) else w for w in b] for b in bits
    ]
    probe = part.select(F.col("p_partkey").alias("k"))
    hit_exprs = []
    for s in range(BLOOM_K):
        sc = slot(F.col("k"), F.lit(s))
        probe = probe.withColumn(
            f"_w{s}",
            F.element_at(F.lit(signed[s]), (F.floor(sc / 64) + 1).cast("int")),
        ).withColumn(f"_b{s}", F.pmod(sc, F.lit(64)).cast("int"))
        hit_exprs.append(f"((shiftright(_w{s}, _b{s}) & 1) = 1)")
    verdicts = (
        probe.withColumn("maybe", F.expr(" AND ".join(hit_exprs)))
        .join(F.broadcast(build.withColumn("_m", F.lit(1))), "k", "left")
        .select("maybe", F.col("_m").isNotNull().alias("member"))
    )
    return verdicts.agg(
        F.count(F.lit(1)).alias("n_probed"),
        F.sum(F.col("member").cast("int")).cast("bigint").alias("n_members"),
        F.sum(F.col("maybe").cast("int")).cast("bigint").alias("n_maybe"),
        F.sum((F.col("maybe") & ~F.col("member")).cast("int"))
        .cast("bigint")
        .alias("n_false_pos"),
        F.min(
            F.when(F.col("member") & ~F.col("maybe"), 0).otherwise(1)
        )
        .cast("int")
        .alias("no_false_negatives"),
    )
