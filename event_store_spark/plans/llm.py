"""LLM-data-pipeline operators (SURVEY.md §2.9 Q30–Q33 + first-class extras).

Deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding
cosine), similarity search (brute-force + LSH-bucketed ANN), and text
analysis (lang-ID, quality scoring, token counting, fingerprinting) over the
`documents` / `embeddings` fixtures.

Operators are expressed with built-in Catalyst expressions (split /
transform / filter / aggregate / md5 / array ops) wherever those are the
fast path; the exceptions are deliberate, measured Arrow boundaries —
`text_fingerprint`'s vectorized shingle hashing and the per-bucket matmul
in `embedding_near_dup_pairs` — where Spark's higher-order functions
(interpreted per element, not codegen'd) lose to batch numpy by 4–15×.
Hashing uses md5 hex strings where the oracle must agree on ORDER
(lexicographic on fixed-width hex == numeric) and exact int64 polynomial /
xxhash64 keys where the hash never reaches the output, making every
operator oracle-checkable either way.

Scale notes (100 TB posture) are on each operator; the common theme: never
enumerate O(n²) pairs globally — bucket first (LSH band, simhash block,
length/lang bucket), enumerate pairs only within buckets, and make the
bucket join an equi-join so AQE can handle skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from event_store_spark.functions.text import (
    BPE_TOKEN_RE,
    STOPWORDS,
    non_ascii_ratio,
    stopword_hits,
    whitespace_tokens,
    word_ngrams,
)
from event_store_spark.functions.vectors import as_double, cosine, dot, norm
from event_store_spark.plans.finalsort import catalog_sort
from event_store_spark.plans.registry import register
from event_store_spark.tables import load_table, memo

N_MINHASH = 12  # minhash signature length
LSH_BAND = 3  # rows per band → 4 bands

#: The DuckDB mirror of `_minhash_candidates` (shingle → seeded minhash →
#: band keys → self-join), shared by every minhash-family oracle
#: (dedup_minhash_lsh / _verified / _clusters / _survivors) so a future
#: change to the shingling or banding scheme is edited in ONE place —
#: three hand-copied variants drifting apart would make an oracle silently
#: disagree with the shared Spark-side build. Ends with the `cand` CTE
#: (columns d1 < d2); compose as f"WITH {MINHASH_CAND_CTE}, ...".
MINHASH_CAND_CTE = """tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
                 FROM documents),
    sh AS (SELECT doc_id,
                  UNNEST(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
           FROM tok),
    mh AS (SELECT doc_id, seed,
                  MIN(md5(CAST(seed AS VARCHAR) || '|' || sh)) AS mh
           FROM sh, (SELECT UNNEST(range({n_minhash})) AS seed) seeds
           GROUP BY doc_id, seed),
    sig AS (SELECT doc_id, seed // {lsh_band} AS band,
                   string_agg(mh, ',' ORDER BY seed) AS bandkey
            FROM mh GROUP BY doc_id, seed // {lsh_band}),
    cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
             FROM sig a JOIN sig b
               ON a.band = b.band AND a.bandkey = b.bandkey
              AND a.doc_id < b.doc_id)""".format(
    n_minhash=N_MINHASH, lsh_band=LSH_BAND
)

#: recursive-closure suffix shared by the clusters/survivors oracles:
#: undirected edges from `cand` + min-label transitive closure
MINHASH_REACH_CTE = """edges AS (SELECT d1 AS src, d2 AS dst FROM cand
              UNION ALL SELECT d2, d1 FROM cand),
    reach AS (
        WITH RECURSIVE r(a, b) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.a, e.dst FROM r JOIN edges e ON r.b = e.src)
        SELECT a, MIN(b) AS cluster FROM r GROUP BY a)"""
#: dedup_embedding's per-bucket pair-enumeration bound: a bucket larger than
#: this fails fast instead of silently going quadratic (raise; the recovery
#: is more planes — buckets shrink geometrically — or per-bucket sampling)
DEDUP_MAX_BUCKET = 100_000


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# Shared MinHash-LSH candidate index, memoized per session and sf_dir
# (`tables.memo`). The signature build is the O(corpus) stage of every
# minhash dedup; `dedup_minhash_lsh` (count) and `dedup_minhash_verified`
# (exact Jaccard on survivors) consume the SAME candidate set — production
# builds compute signatures once and store them, so both queries sharing
# one cached build is the real cost model, and the build is deterministic
# (md5), so reuse cannot change results.


def _minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH signature table (doc_id, source, band, bandkey), cached:
    shingle → seeded md5 minhashes (one exploded pass, 12 min() partials
    on one shuffle) → band keys. This IS the persisted MinHash index of a
    production dedup service — `_minhash_candidates` self-joins it for
    batch dedup, `plans.incremental.dedup_incremental` probes it with a
    new batch's signatures. `source` rides through (functionally
    dependent on doc_id) so the incremental probe can split index/batch
    without a join back to documents."""

    def build():
        # narrow to the core count before caching: the band aggregate caches
        # at the full 8×cores initial shuffle width (AQE does not rewrite the
        # cached plan), so every one of the ~8 consumer queries paid 256-task
        # stages over ~hundred-row partitions (r12)
        return (
            minhash_band_signatures(_docs(spark, sf_dir))
            .coalesce(spark.sparkContext.defaultParallelism)
            .cache()
        )

    return memo(spark, (_minhash_signatures, sf_dir), build)


def minhash_band_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, source, band, bandkey) for an arbitrary documents frame —
    the signature formula itself, factored out of the sf_dir-memoized
    `_minhash_signatures` so index builders (`plans.dedup_index`) can run
    it over any corpus slice or arriving batch."""
    shingles = docs.select(
        "doc_id", "source", whitespace_tokens("text").alias("w")
    ).select("doc_id", "source", F.explode(word_ngrams("w", 3)).alias("sh"))
    hash_cols = [
        F.md5(F.concat(F.lit(f"{seed}|"), F.col("sh"))).alias(f"h{seed}")
        for seed in range(N_MINHASH)
    ]
    minhashes = (
        shingles.select("doc_id", "source", *hash_cols)
        .groupBy("doc_id", "source")
        .agg(*[F.min(f"h{seed}").alias(f"mh{seed}") for seed in range(N_MINHASH)])
    )
    n_bands = N_MINHASH // LSH_BAND
    band_entries = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.concat_ws(
                    ",", *[F.col(f"mh{band * LSH_BAND + j}") for j in range(LSH_BAND)]
                ).alias("bandkey"),
            )
            for band in range(n_bands)
        ]
    )
    return (
        minhashes.select("doc_id", "source", F.explode(band_entries).alias("bk"))
        .select(
            "doc_id",
            "source",
            F.col("bk.band").alias("band"),
            F.col("bk.bandkey").alias("bandkey"),
        )
    )


def _minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct LSH candidate pairs (d1 < d2), cached: the shared
    signature table self-equi-joined on (band, bandkey)."""

    def build():
        sig = _minhash_signatures(spark, sf_dir).drop("source")
        a, b = sig.alias("a"), sig.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bandkey") == F.col("b.bandkey"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
            .distinct()
            # coalesce-before-cache: see tokenized.source_gram_masks
            .coalesce(spark.sparkContext.defaultParallelism)
            .cache()
        )

    return memo(spark, (_minhash_candidates, sf_dir), build)


def minhash_cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster) connected-component labels over the MinHash-LSH
    candidate graph — memoized per (session, sf_dir) alongside the
    candidate build it consumes: `dedup_minhash_clusters` (stats) and
    `dedup_minhash_survivors` (keep-list) both aggregate this one label
    table, and the star-alternation run is deterministic, so sharing the
    materialized result is the same cost model as sharing the signature
    build (an inverted dedup index is persistent state in production)."""
    from event_store_spark.operators.graph import connected_components

    def build():
        docs = _docs(spark, sf_dir)
        cand = _minhash_candidates(spark, sf_dir).select(
            F.col("d1").alias("src"), F.col("d2").alias("dst")
        )
        # connected_components returns an eagerly-checkpointed label table
        # (it must materialize to release its edge-set cache), so the memo
        # entry is already a storage-backed scan — no extra persist needed
        labels = connected_components(docs.select("doc_id"), cand)
        return labels

    return memo(spark, (minhash_cc_labels, sf_dir), build)


#: dedup_embedding's target mean bucket occupancy: planes are sized so the
#: expected bucket holds about this many vectors (the knob that makes bucket
#: count track corpus size instead of staying fixed — VERDICT r4 item 3)
DEDUP_TARGET_BUCKET = 64

#: embedding dimensionality of the fixture corpus (and the modulus for
#: plane component indices beyond the first four planes)
EMB_DIM = 64


def adaptive_planes(n: int, target_bucket: int = DEDUP_TARGET_BUCKET) -> int:
    """planes = max(4, ceil(log2(n / target_bucket))): bucket count 2^planes
    grows linearly with corpus size so mean occupancy stays ~target_bucket.
    Round 4 fixed planes at 4 (16 buckets) — at real scale every bucket held
    n/16 vectors and the fail-fast guard always fired; this makes the
    PERF.md 'planes grow ~log n' note real. The DuckDB oracles mirror the
    identical formula in SQL so both sides always agree on the bucketing."""
    import math

    if n <= target_bucket:
        return 4
    return max(4, math.ceil(math.log2(n / target_bucket)))


def hyperplane_bucket(v: Column, planes: int = 4) -> Column:
    """Deterministic sign-bucket for a double-array embedding: one '0'/'1'
    character per plane. Planes 0-3 compare components 16p vs 16p+8 (the
    round-2 scheme, kept so fixed-4-plane consumers and their oracles are
    unchanged); planes >= 4 compare components (11p) mod 64 vs (11p+7)
    mod 64 — coprime stride so no plane repeats a pair. A fixed stand-in
    for random projections, chosen so the DuckDB oracle can write the
    identical CASE chain. 2^planes buckets."""
    def _pair(p: int) -> tuple[int, int]:
        if p < 4:
            return p * 16, p * 16 + 8
        return (11 * p) % EMB_DIM, (11 * p + 7) % EMB_DIM

    return F.concat(
        *[
            F.when(v[i] >= v[j], "1").otherwise("0")
            for i, j in (_pair(p) for p in range(planes))
        ]
    )


# ------------------------------------------------------------------ dedup

@register(
    "q30",
    oracle="""
    SELECT COUNT(DISTINCT md5(text)) AS surviving,
           COUNT(*) - COUNT(DISTINCT md5(text)) AS dropped
    FROM documents
    """,
)
def q30_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: surviving (keep MIN(doc_id) per hash)
    vs dropped counts. One hash-aggregate; at 100 TB this is the cheapest
    dedup — a single shuffle on a 16-byte key with map-side partials."""
    return _docs(spark, sf_dir).agg(
        F.countDistinct(F.md5("text")).alias("surviving"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("dropped"),
    )


@register(
    "q31",
    oracle="""
    SELECT CAST(COALESCE(SUM(CAST(c * (c - 1) / 2 AS BIGINT)), 0) AS BIGINT)
           AS candidate_pairs
    FROM (SELECT COUNT(*) AS c FROM documents
          GROUP BY SUBSTR(text, 1, 64) HAVING COUNT(*) > 1)
    """,
)
def q31_prefix_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs sharing a 64-char prefix (grouped count>1).

    Pair counts are computed arithmetically from group sizes — the pairs are
    never materialized, so this scales to any group-size distribution."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.substring("text", 1, 64).alias("prefix"))
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .agg(
            F.coalesce(
                F.sum((F.col("c") * (F.col("c") - 1) / 2).cast("bigint")), F.lit(0)
            )
            .cast("bigint")
            .alias("candidate_pairs")
        )
    )


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {MINHASH_CAND_CTE}
    SELECT CAST(COUNT(*) AS BIGINT) AS candidate_pairs FROM cand
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup candidates over word 3-gram shingles.

    Pipeline: shingle → {N_MINHASH} seeded md5 minhashes → band signatures
    (bands of {LSH_BAND}) → equi-self-join on (band, bandkey) → distinct pairs.

    Scale: the only pair enumeration happens inside LSH buckets (equi join on
    the band key), which is the standard way this survives 100 TB; the
    signature build is two hash aggregations (shared, cached — see
    `_minhash_candidates`). Hashes are md5 hex strings so MIN() agrees
    byte-for-byte with the oracle.

    (Historical measurement kept for the record: per-row array folds with
    zero shuffle were 4× SLOWER than the exploded build because projection
    collapse re-derives the shingle array per seed column.)
    """
    cand = _minhash_candidates(spark, sf_dir)
    return cand.agg(F.count(F.lit(1)).cast("bigint").alias("candidate_pairs"))


@register(
    "contamination_minhash",
    oracle=f"""
    WITH {MINHASH_CAND_CTE},
    src AS (SELECT doc_id, source FROM documents),
    bench AS (SELECT DISTINCT band, bandkey
              FROM sig JOIN src USING (doc_id) WHERE source = 'src0'),
    cont AS (SELECT DISTINCT s.doc_id, src.source
             FROM sig s JOIN src ON s.doc_id = src.doc_id
             JOIN bench b ON s.band = b.band AND s.bandkey = b.bandkey
             WHERE src.source <> 'src0')
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_contaminated
    FROM cont GROUP BY source ORDER BY source
    """,
)
def contamination_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination: training docs that are MinHash-LSH
    near-dup candidates of any held-out benchmark doc (source 'src0' —
    the same eval-side convention as contamination_ngram), counted per
    training source. Completes the contamination family: the n-gram
    probes catch verbatim leakage, this catches paraphrased/reformatted
    leakage the exact 5-gram join misses — the pairing real curation
    pipelines run (exact spans + near-dup signatures over the same
    corpus).

    Plan: the SHARED cached signature table (`_minhash_signatures` — the
    same build every minhash dedup query consumes; contamination adds no
    new corpus pass) split by source; the benchmark side collapses to
    DISTINCT (band, bandkey) — bounded by benchmark size, small by
    nature, same defense as contamination_broadcast — and broadcasts
    into a left-semi probe of the training side, so the training corpus
    never crosses the network. Survivors (tiny by construction) are
    dedup'd per doc and counted per source. The oracle mirrors the exact
    signature scheme via the shared MINHASH_CAND_CTE prefix (its `cand`
    self-join CTE goes unreferenced and unexecuted here).

    At 100 TB: signature build amortized across the dedup family (or
    read from the persisted DedupIndex), probe is map-side; the
    benchmark-key broadcast is the runtime-filter pattern with exact
    semantics."""
    sig = _minhash_signatures(spark, sf_dir)
    bench = (
        sig.where(F.col("source") == "src0")
        .select("band", "bandkey")
        .distinct()
    )
    cont = (
        sig.where(F.col("source") != "src0")
        .join(F.broadcast(bench), ["band", "bandkey"], "left_semi")
        .select("doc_id", "source")
        .distinct()
    )
    return (
        cont.groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_contaminated"))
        .transform(lambda d: catalog_sort(d, "source"))
    )


@register(
    "dedup_simhash",
    oracle="""
    WITH tok AS (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\\s+')) AS t
                 FROM documents),
    h AS (SELECT doc_id, md5(t) AS h FROM tok),
    bits AS (SELECT doc_id, pos,
                    SUM(CASE WHEN substr(h, CAST(pos AS INT), 1)
                             IN ('8','9','a','b','c','d','e','f')
                        THEN 1 ELSE -1 END) AS s
             FROM h, (SELECT UNNEST(range(1, 33)) AS pos) p
             GROUP BY doc_id, pos),
    sig AS (SELECT doc_id,
                   string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY pos)
                   AS sig
            FROM bits GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
                     list_sum(list_transform(range(1, 33),
                       i -> CASE WHEN substr(a.sig, CAST(i AS INT), 1)
                                    = substr(b.sig, CAST(i AS INT), 1)
                            THEN 0 ELSE 1 END)) AS hd
              FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS near_dup_pairs FROM pairs WHERE hd <= 3
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (32-bit signature, Hamming distance ≤ 3).

    Signature: per token, md5 hex; each of the 32 hex positions contributes
    +1/−1 by its high bit; signature bit = sign of the sum.

    Pair search uses the pigeonhole block trick — split the 32-bit signature
    into 4 blocks of 8; any pair within Hamming ≤ 3 must share at least one
    whole block, so candidates come from 4 equi-joins on (block_idx, block),
    then the exact Hamming check filters. The oracle does the O(n²) naive
    scan; the engine plan is the one that survives 100 TB.
    """
    blocked = _simhash_bucket_guard(
        _simhash_blocked32(spark, sf_dir), "dedup_simhash"
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    hamming = F.bit_count(F.col("a.sig_int").bitwiseXOR(F.col("b.sig_int")))
    cand = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block") == F.col("b.block"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(hamming <= 3)
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    return cand.agg(F.count(F.lit(1)).cast("bigint").alias("near_dup_pairs"))


# blocked SimHash signature tables: the repartition spreads the streamed
# side of the pair probe (one 8-bit block value holds 65% of docs at
# sf0.1).


def _simhash_blocked32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sig_int, block_idx, block) — the 32-bit blocked SimHash
    signature index (4 pigeonhole blocks of 8 bits), built per call: its
    one registered query reads it once."""
    docs = _docs(spark, sf_dir)
    token_hashes = docs.select(
        "doc_id", F.explode(whitespace_tokens("text")).alias("t")
    ).select("doc_id", F.md5("t").alias("h"))
    # one SUM(±1) aggregate column per signature bit over the token rows
    # (map-side partials, no 32× position explode) — see dedup_simhash64.
    # Bit p = high bit of hex char p; the full 32-char digest parsed once
    # into 4 int chunks (chunk c = chars 8c-7..8c), then one shift+mask
    # per bit — same collapse as _simhash64_chunks, same bit values as
    # the substr-isin('89abcdef') form the oracle keeps.
    chunked = token_hashes.select(
        "doc_id",
        *[
            F.conv(F.expr(f"substr(h, {8 * c + 1}, 8)"), 16, 10)
            .cast("long")
            .alias(f"c{c + 1}")
            for c in range(4)
        ],
    )
    sig = _simhash_sig(
        chunked,
        32,
        lambda p: (
            f"(shiftright(c{(p - 1) // 8 + 1}, {31 - 4 * ((p - 1) % 8)})"
            " & 1) = 1"
        ),
    )
    # 4 pigeonhole blocks of 8 bits; Hamming distance as one codegen op:
    # parse the bit string once per row, then bit_count(xor) per pair.
    return (
        sig.withColumn("sig_int", F.conv("sig", 2, 10).cast("long"))
        .withColumn("block_idx", F.explode(F.sequence(F.lit(0), F.lit(3))))
        .withColumn("block", F.expr("substr(sig, block_idx * 8 + 1, 8)"))
        .repartition(2 * spark.sparkContext.defaultParallelism)
    )


def _simhash_blocked64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, hi, lo, block_idx, block) — the 64-bit blocked
    SimHash signature index (4 pigeonhole blocks of 16 bits), cached.
    ``source`` rides through (doc_id-functional) so the incremental
    probe can split index/batch without a join back to documents —
    `dedup_simhash64` simply ignores it; both consumers share this ONE
    build."""

    def build():
        docs = _docs(spark, sf_dir)
        token_hashes = docs.select(
            "doc_id", "source", F.explode(whitespace_tokens("text")).alias("t")
        ).select("doc_id", "source", F.md5("t").alias("h"))
        sig = _simhash_sig(
            _simhash64_chunks(token_hashes), 64, _simhash64_bit_on, ("source",)
        )
        return (
            sig.withColumn(
                "hi", F.conv(F.expr("substr(sig, 1, 32)"), 2, 10).cast("long")
            )
            .withColumn(
                "lo", F.conv(F.expr("substr(sig, 33, 32)"), 2, 10).cast("long")
            )
            .withColumn("block_idx", F.explode(F.sequence(F.lit(0), F.lit(3))))
            .withColumn("block", F.expr("substr(sig, block_idx * 16 + 1, 16)"))
            .select("doc_id", "source", "hi", "lo", "block_idx", "block")
            .repartition(2 * spark.sparkContext.defaultParallelism)
            .cache()
        )

    return memo(spark, (_simhash_blocked64, sf_dir), build)


def _simhash64_chunks(token_hashes: DataFrame) -> DataFrame:
    """Parse md5 hex column ``h`` ONCE into two 32-bit integer chunks
    (c1 = hex chars 1-8, c2 = chars 9-16, the 64-bit prefix big-endian).
    The per-bit predicate then costs one shift+mask instead of the
    substr+conv+shift the old form paid PER BIT PER TOKEN — 64 hex
    parses per token row collapsed to 2 (the signature build dominated
    dedup_simhash64's 122 s at the 30× corpus). All other columns ride
    through; ``h`` is dropped."""
    return (
        token_hashes.withColumn(
            "c1", F.conv(F.expr("substr(h, 1, 8)"), 16, 10).cast("long")
        )
        .withColumn(
            "c2", F.conv(F.expr("substr(h, 9, 8)"), 16, 10).cast("long")
        )
        .drop("h")
    )


def _simhash64_bit_on(pos: int) -> str:
    """Is 64-bit signature bit ``pos`` (1..64) set? Bit (pos-1)%4
    (MSB-first) of md5 nibble ⌈pos/4⌉ — i.e. bit pos-1 from the MSB of
    the 64-bit md5 prefix — read from the pre-parsed chunk columns of
    `_simhash64_chunks` (bit-identical to the old per-bit hex parse;
    the DuckDB oracles keep the nibble form of the same rule). Returns
    a SQL boolean STRING, not a Column — `_simhash_sig` splices all
    ``bits`` predicates into one composite expression (see its note on
    py4j construction cost)."""
    chunk = "c1" if pos <= 32 else "c2"
    shift = 31 - (pos - 1) % 32
    return f"(shiftright({chunk}, {shift}) & 1) = 1"


def _simhash_sig(
    token_hashes: DataFrame, bits: int, on, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, *extra_cols, sig) — SimHash signature as a '0'/'1' string
    of ``bits`` positions. One SUM(±1) AGGREGATE COLUMN per bit over the
    (doc_id, h) token rows — a single shuffle with map-side partials,
    O(tokens) rows regardless of width. The explode-by-position build
    this replaced inflated the token shuffle ``bits``× and measured 50 s
    (64-bit) / 25 s (32-bit) at the 10× corpus vs 12.6 s for this form
    (PERF.md round 8). ``on(p)`` is the bit-p predicate over the
    pre-parsed integer chunk columns (``c1``/``c2`` — or ``c1``..``c4``
    for the 32-bit form; see `_simhash64_chunks`) carried by the input
    frame, which no longer carries the md5 hex column ``h`` itself — the
    chunk layout is the only thing the 32- and 64-bit forms differ in.
    ``extra_cols`` ride the grouping (doc_id-functional columns like
    ``source``, for the incremental probe's index/batch split).

    ``on(p)`` returns a SQL STRING and the whole signature is spliced
    into TWO composite expressions (one struct of per-bit sums + a row
    count, one concat of threshold tests): building ``bits`` per-bit
    `F.sum(F.when(...))` Columns paid ~1.7 s of py4j round trips PER
    QUERY at sf0.1 (measured r12 — driver-side plan construction, not
    execution), and the bare `sum(cast(bit as int))` form halves the
    aggregate's expression tree vs SUM(CASE ... 1 ELSE -1). Same
    integers: old s_p = #on − #off = 2·#on − n, so s_p > 0 ⟺
    2·sum(bit_p) > n — exact, no float anywhere."""
    sums = ", ".join(
        f"sum(cast(({on(p)}) as int)) AS s{p}" for p in range(1, bits + 1)
    )
    sig = ", ".join(
        f"IF(2 * s.s{p} > s.n, '1', '0')" for p in range(1, bits + 1)
    )
    return (
        token_hashes.groupBy("doc_id", *extra_cols)
        .agg(F.expr(f"struct({sums}, count(1) AS n)").alias("s"))
        .select("doc_id", *extra_cols, F.expr(f"concat({sig})").alias("sig"))
    )


def _simhash_bucket_guard(blocked: DataFrame, name: str) -> DataFrame:
    """In-plan blocking-bucket size guard (dedup_embedding's discipline,
    VERDICT r7 #2): bucket sizes are one tiny aggregation broadcast back
    onto the blocked rows; any row in an oversized (block_idx, block)
    bucket raises THROUGH the executed plan — distributed, no driver
    round-trip — instead of letting the pigeonhole equi-join go quadratic
    silently. Recovery is a wider signature (dedup_simhash64's 16-bit
    blocks give 65,536 bucket values per block index vs the 32-bit form's
    256) or a higher explicit ceiling via SPARK_GRAFT_SIMHASH_MAX_BUCKET."""
    import os

    max_bucket = int(os.environ.get("SPARK_GRAFT_SIMHASH_MAX_BUCKET", "8192"))
    counts = blocked.groupBy("block_idx", "block").agg(
        F.count(F.lit(1)).alias("_bcnt")
    )
    guard = F.when(
        F.col("_bcnt") > max_bucket,
        F.raise_error(
            F.concat_ws(
                " ",
                F.lit(f"{name}: pigeonhole bucket (block_idx, block)=("),
                F.col("block_idx").cast("string"),
                F.col("block"),
                F.lit(") holds"),
                F.col("_bcnt").cast("string"),
                F.lit(
                    f"signatures (max {max_bucket}); widen the signature "
                    "(dedup_simhash64) or raise SPARK_GRAFT_SIMHASH_MAX_BUCKET"
                ),
            )
        ).cast("int"),
    ).otherwise(F.lit(1))
    return (
        blocked.join(F.broadcast(counts), ["block_idx", "block"])
        .withColumn("_guard", guard)
        .where(F.col("_guard") == 1)  # keeps the guard in the executed plan
        .drop("_bcnt", "_guard")
    )


@register(
    "dedup_simhash64",
    oracle="""
    WITH tok AS (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\\s+')) AS t
                 FROM documents),
    h AS (SELECT doc_id, md5(t) AS h FROM tok),
    bits AS (SELECT doc_id, pos,
                    SUM(CASE WHEN
                          ((strpos('0123456789abcdef',
                                   substr(h, CAST((pos + 3) // 4 AS INT), 1)) - 1)
                           >> CAST(3 - ((pos - 1) % 4) AS INT)) & 1 = 1
                        THEN 1 ELSE -1 END) AS s
             FROM h, (SELECT UNNEST(range(1, 65)) AS pos) p
             GROUP BY doc_id, pos),
    sig AS (SELECT doc_id,
                   string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY pos)
                   AS sig
            FROM bits GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
                     list_sum(list_transform(range(1, 65),
                       i -> CASE WHEN substr(a.sig, CAST(i AS INT), 1)
                                    = substr(b.sig, CAST(i AS INT), 1)
                            THEN 0 ELSE 1 END)) AS hd
              FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS near_dup_pairs FROM pairs WHERE hd <= 3
    """,
)
def dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs — 64-bit signature, Hamming ≤ 3, 4×16-bit
    pigeonhole blocks. The CORPUS-SCALE default (VERDICT r7 #2).

    `dedup_simhash`'s 32-bit form splits into 4 blocks of 8 bits — at most
    256 values per block index, so equi-join candidate sets grow
    O(n²/1024): invisible at sf0.1, a scale-killer at 100 TB. Doubling the
    signature to 64 bits makes each pigeonhole block 16 bits (65,536
    values per block index, 2⁶·65,536 bucket keys overall) while keeping
    the identical contract: any pair within Hamming ≤ 3 of the 64-bit
    signature still shares at least one whole block (4 blocks, 3 flips —
    pigeonhole), so candidates still come from 4 equi-joins, now over a
    256×-finer key domain. The 32-bit form stays registered as the
    oracle-parity twin; both carry the in-plan bucket guard.

    Signature bit p (1-indexed, 1..64) = bit (p-1)%4 (MSB-first) of md5
    hex nibble ⌈p/4⌉ — the natural widening of the 32-bit form's
    high-bit-per-hex-char rule, byte-identical between Spark and DuckDB
    because both read the same md5 hex string. Hamming distance runs as
    two bit_count(xor) codegen ops over the signature halves (a 64-bit
    signature through `conv(·,2,10)` would overflow LongType's cast).

    Signature build: 64 SUM(±1) AGGREGATE COLUMNS over the token rows —
    one shuffle of (doc_id, h) with map-side partials — NOT a position
    explode. The explode form (what the 32-bit twin uses at half the
    width) inflates the shuffle 64× and measured 50 s at 10× vs 25 s for
    the 32-bit; per-position aggregate columns keep the build O(tokens)
    rows regardless of signature width, which is the whole point of a
    wider signature being the scale default."""
    blocked = _simhash_bucket_guard(
        _simhash_blocked64(spark, sf_dir).drop("source"), "dedup_simhash64"
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    hamming = F.bit_count(
        F.col("a.hi").bitwiseXOR(F.col("b.hi"))
    ) + F.bit_count(F.col("a.lo").bitwiseXOR(F.col("b.lo")))
    cand = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block") == F.col("b.block"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(hamming <= 3)
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    return cand.agg(F.count(F.lit(1)).cast("bigint").alias("near_dup_pairs"))


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH g AS (SELECT doc_id, lang, n_chars,
                      list_distinct(list_transform(
                          range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 0) + 1),
                          i -> string_split_regex(trim(text), '\\s+')[i] || ' '
                            || string_split_regex(trim(text), '\\s+')[i+1] || ' '
                            || string_split_regex(trim(text), '\\s+')[i+2])) AS grams
               FROM documents),
    pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
                     len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS inter,
                     len(a.grams) + len(b.grams)
                       - len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS uni
              FROM g a JOIN g b
                ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 5
               AND a.doc_id < b.doc_id),
    j AS (SELECT d1, d2,
                 CASE WHEN uni > 0 THEN CAST(inter AS DOUBLE) / uni ELSE 0.0 END AS jac
          FROM pairs)
    SELECT CAST(COUNT(*) AS BIGINT) AS candidate_pairs,
           CAST(COUNT(*) FILTER (jac >= 0.3) AS BIGINT) AS dup_pairs,
           ROUND(MAX(jac), 4) AS max_jaccard
    FROM j
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup stats over (same lang, |Δn_chars| ≤ 5)
    candidate pairs — counts, dup count at J ≥ 0.3, and max J.

    RE-PLANNED round 8 (VERDICT r7 "what's wrong" #2: the banded
    pair-enumeration plan measured exponent 1.65 at 10× and 1.86 at 30× —
    candidate pairs grow quadratically within length bands BY THE QUERY'S
    OWN DEFINITION, so any plan that materializes every candidate is
    quadratic no matter how well it blocks). The contract's three outputs
    decompose so that NO zero-overlap pair is ever enumerated:

    - ``candidate_pairs`` is pure combinatorics over the per-(lang,
      n_chars) HISTOGRAM: Σ c_x·c_y over value pairs within distance 5
      (+ C(c,2) at equal length). The histogram join touches distinct
      (lang, n_chars) VALUES — corpus-size-independent width.
    - ``dup_pairs`` and ``max_jaccard`` need Jaccard only where it can
      exceed zero, i.e. pairs SHARING at least one gram: an inverted-
      index self-join on the gram string (each doc's distinct 3-grams
      exploded once), grouped to per-pair intersection counts, with the
      (lang, |Δ| ≤ 5, id<) candidate predicate as the residual. Work is
      Σ_gram df(gram)² — bounded by gram co-occurrence like the MinHash
      candidate build, not by band population. Zero-overlap candidates
      contribute max J = 0.0 without being enumerated (the final select
      floors max at 0.0 when the candidate count exceeds the co-
      occurring count; an empty candidate set yields NULL, matching the
      oracle's MAX over zero rows).

    Exact, not approximate: every pair with J > 0 shares a gram, so the
    inverted index enumerates a superset of the J ≥ 0.3 pairs and the
    exact intersection count decides. MAX is reported instead of AVG so
    the float comparison is a single IEEE value, not an accumulation-
    order-dependent mean."""
    docs = _docs(spark, sf_dir)

    # candidate count: histogram combinatorics, never a doc-pair join —
    # and no gram construction at all on this branch
    hist = docs.groupBy("lang", "n_chars").agg(F.count(F.lit(1)).alias("c"))
    ha, hb = hist.alias("ha"), hist.alias("hb")
    cand = (
        ha.join(
            hb,
            (F.col("ha.lang") == F.col("hb.lang"))
            & (F.col("hb.n_chars") >= F.col("ha.n_chars"))
            & (F.col("hb.n_chars") <= F.col("ha.n_chars") + 5),
        )
        .select(
            F.when(
                F.col("ha.n_chars") == F.col("hb.n_chars"),
                F.col("ha.c") * (F.col("ha.c") - 1) / 2,
            )
            .otherwise(F.col("ha.c") * F.col("hb.c"))
            .alias("n")
        )
        .agg(F.sum("n").cast("bigint").alias("candidate_pairs"))
    )

    # the inverted index, served from the ingest-tokenized side table
    # (plans/tokenized.py): grams travel as the precomputed xxhash64
    # fingerprints (`g3`) — no tokenize and no gram STRINGS at query
    # time, and the doc-pair equi key is an 8-byte long instead of a
    # string (the duplicate_spans reroute; the 64-bit-fingerprint
    # exactness contract is the same one that query documents). The
    # distinct both dedupes per-doc grams and acts as the
    # materialization barrier for the exploded column.
    from event_store_spark.plans.tokenized import tokenized_docs

    tok = (
        tokenized_docs(spark, sf_dir, docs_fn=lambda: docs)
        .select("doc_id", "lang", "n_chars", F.explode("g3").alias("g"))
        .distinct()
    )
    # per-doc distinct-gram counts join back by doc_id; the strategy is
    # left to AQE (broadcast at fixture scale, shuffle join at corpus
    # scale — a forced broadcast of a #docs-row table would not survive
    # 100 TB)
    gsz = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("gsize"))
    tok = tok.join(gsz, "doc_id")
    ta, tb = tok.alias("ta"), tok.alias("tb")
    inter = (
        ta.join(
            tb,
            (F.col("ta.g") == F.col("tb.g"))
            & (F.col("ta.lang") == F.col("tb.lang"))
            & (F.abs(F.col("ta.n_chars") - F.col("tb.n_chars")) <= 5)
            & (F.col("ta.doc_id") < F.col("tb.doc_id")),
        )
        .groupBy(
            F.col("ta.doc_id").alias("d1"),
            F.col("tb.doc_id").alias("d2"),
            F.col("ta.gsize").alias("g1"),
            F.col("tb.gsize").alias("g2"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    co = inter.select(
        (
            F.col("inter").cast("double")
            / (F.col("g1") + F.col("g2") - F.col("inter"))
        ).alias("jac")
    ).agg(
        F.count(F.lit(1)).alias("co_pairs"),
        F.sum(F.when(F.col("jac") >= 0.3, 1).otherwise(0)).alias("dups"),
        F.max("jac").alias("max_co"),
    )

    j = cand.crossJoin(co).select(
        "candidate_pairs",
        F.coalesce(F.col("dups"), F.lit(0)).cast("bigint").alias("dup_pairs"),
        F.when(F.col("candidate_pairs") == 0, F.lit(None).cast("double"))
        .when(
            F.col("candidate_pairs") > F.coalesce(F.col("co_pairs"), F.lit(0)),
            F.greatest(F.coalesce(F.col("max_co"), F.lit(0.0)), F.lit(0.0)),
        )
        .otherwise(F.col("max_co"))
        .alias("max_j"),
    )
    return j.select(
        "candidate_pairs",
        "dup_pairs",
        F.round(F.col("max_j"), 4).alias("max_jaccard"),
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    planes: int = 4,
    max_bucket: int | None = None,
    k: int = 10,
    block_col: str | None = None,
    vectorized: bool = False,
) -> DataFrame:
    """Top-k most-cosine-similar pairs with LSH-bucket blocking and an
    in-plan bucket-size guard.

    ``emb`` needs (vec_id, v: array<double>). Pairs are enumerated ONLY
    inside hyperplane-sign buckets — the per-bucket pair join is an
    equi-join, so the all-pairs stage is bounded by the largest bucket.
    ``max_bucket`` makes that bound EXPLICIT: bucket sizes are one tiny
    aggregation, broadcast back onto the corpus, and any row in an
    oversized bucket raises through `raise_error` inside the executed plan
    (distributed, no driver round-trip) instead of letting the join go
    quadratic silently. Recovery is more planes (bucket count grows
    geometrically) — the ~log n growth note in PERF.md.

    ``block_col`` swaps the derived LSH bucket for a TRUSTED partition
    column already on ``emb`` (URL domain, shard, label) — the blocking
    key changes; the guard, norm precompute, pair join, tie-break, and
    top-k stay this one implementation.

    ``vectorized=True`` replaces the within-bucket pair JOIN with one
    `applyInPandas` per bucket: each vector crosses the Arrow boundary
    ONCE (n·d doubles), the bucket's full similarity matrix is a single
    BLAS matmul, and only each bucket's top candidates return to the JVM.
    The join form moves both vectors per PAIR — for a bucket of n that is
    n²·d values and n²·d interpreted fold steps, which is why the
    vectorized form measured 4× faster on label-blocked buckets of ~200
    (PERF.md). The `max_bucket` guard doubles as the applyInPandas memory
    bound (a bucket must fit one task). Per-bucket results over-fetch
    top-32 (> k) so a float-epsilon tie at the cut cannot change the
    global top-k."""
    bucket = block_col or "bucket"
    if block_col is None:
        emb = emb.withColumn("bucket", hyperplane_bucket(F.col("v"), planes))
    if max_bucket is not None:
        counts = emb.groupBy(bucket).agg(F.count(F.lit(1)).alias("_bcnt"))
        guard = F.when(
            F.col("_bcnt") > max_bucket,
            F.raise_error(
                F.concat_ws(
                    " ",
                    F.lit("dedup_embedding: blocking bucket"),
                    F.col(bucket).cast("string"),
                    F.lit("holds"),
                    F.col("_bcnt").cast("string"),
                    F.lit(f"vectors (max_bucket={max_bucket}); add planes"),
                )
            ).cast("int"),
        ).otherwise(F.lit(1))
        emb = (
            emb.join(F.broadcast(counts), bucket)
            .withColumn("_guard", guard)
            .where(F.col("_guard") == 1)  # keeps the guard in the executed plan
            .drop("_bcnt", "_guard")
        )
    if vectorized:
        import numpy as np
        import pandas as pd

        def topk_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
            ids = pdf["vec_id"].to_numpy()
            if len(ids) < 2:
                return pd.DataFrame({"v1": [], "v2": [], "sim": []}).astype(
                    {"v1": "int64", "v2": "int64", "sim": "float64"}
                )
            V = np.stack(pdf["v"].to_numpy())
            nrm = np.sqrt(np.einsum("ij,ij->i", V, V))
            S = V @ V.T
            iu = np.triu_indices(len(ids), k=1)
            sims = S[iu] / (nrm[iu[0]] * nrm[iu[1]])
            i1, i2 = ids[iu[0]], ids[iu[1]]
            v1, v2 = np.minimum(i1, i2), np.maximum(i1, i2)
            take = 32
            if len(sims) > take:
                sel = np.argpartition(-sims, take - 1)[:take]
                v1, v2, sims = v1[sel], v2[sel], sims[sel]
            return pd.DataFrame({"v1": v1, "v2": v2, "sim": sims})

        pairs = emb.select("vec_id", "v", bucket).groupBy(bucket).applyInPandas(
            topk_pairs, "v1 bigint, v2 bigint, sim double"
        )
        return (
            pairs.select("v1", "v2", F.round("sim", 4).alias("sim"))
            .orderBy(F.col("sim").desc(), "v1", "v2")
            .limit(k)
        )

    emb = emb.withColumn("nrm", norm(F.col("v")))
    a, b = emb.alias("a"), emb.alias("b")
    sim = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(
            b,
            (F.col(f"a.{bucket}") == F.col(f"b.{bucket}"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("v1"),
            F.col("b.vec_id").alias("v2"),
            F.round(sim, 4).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "v1", "v2")
        .limit(k)
    )


@register(
    "dedup_embedding",
    oracle="""
    WITH params AS (
        SELECT GREATEST(4, CAST(CEIL(LOG2(COUNT(*) / 64.0)) AS INT)) AS planes
        FROM embeddings),
    bucketed AS (SELECT vec_id, embedding,
        array_to_string(list_transform(range(0, planes), p ->
            CASE WHEN p < 4
                 THEN (CASE WHEN embedding[16*p + 1] >= embedding[16*p + 9]
                            THEN '1' ELSE '0' END)
                 ELSE (CASE WHEN embedding[(11*p) % 64 + 1]
                                 >= embedding[(11*p + 7) % 64 + 1]
                            THEN '1' ELSE '0' END)
            END), '') AS bucket
        FROM embeddings, params),
    p AS (SELECT a.vec_id AS v1, b.vec_id AS v2,
        list_sum(list_transform(range(1, len(a.embedding) + 1),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
            i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))
        AS sim
        FROM bucketed a JOIN bucketed b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT v1, v2, ROUND(sim, 4) AS sim FROM p
    ORDER BY sim DESC, v1, v2 LIMIT 10
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: top-10 most similar pairs, enumerated only
    inside hyperplane LSH buckets with the per-bucket size guard active.

    Round 2 blocked on the `label` column — a stand-in whose bucket size is
    unbounded on a real corpus (the VERDICT r2 'weak' flag). The registered
    operator now composes the data-derived LSH bucketing with
    `embedding_near_dup_pairs`' explicit `max_bucket` guard, so the
    all-pairs stage is provably bounded; the label-blocked formulation
    survives as `dedup_embedding_label` for corpora that DO have a trusted
    partition key. Dot products are sequential JVM folds (see
    functions.vectors) — bit-identical with the oracle's list_sum order.

    Plane count is DATA-ADAPTIVE: one metadata-cheap count() sizes
    `adaptive_planes(n)` so mean bucket occupancy tracks
    DEDUP_TARGET_BUCKET instead of n/16 (round 4 fixed planes=4 and the
    guard became the binding constraint at scale); the oracle SQL computes
    the identical formula, so both sides bucket identically at any SF."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    planes = adaptive_planes(emb.count())
    return embedding_near_dup_pairs(
        emb, planes=planes, max_bucket=DEDUP_MAX_BUCKET, vectorized=True
    )


@register(
    "dedup_embedding_label",
    oracle="""
    WITH p AS (SELECT a.vec_id AS v1, b.vec_id AS v2,
        list_sum(list_transform(range(1, len(a.embedding) + 1),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
            i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))
        AS sim
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id)
    SELECT v1, v2, ROUND(sim, 4) AS sim FROM p
    ORDER BY sim DESC, v1, v2 LIMIT 10
    """,
)
def dedup_embedding_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup blocked on a TRUSTED partition key (the
    labeled fixture column) — the variant for corpora that carry a real
    blocking attribute (URL domain, shard, source). Bucket sizes are the
    key's cardinality profile, so this is only safe when that profile is
    known-bounded; the unlabeled/default path is `dedup_embedding`."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        as_double("embedding").alias("v"),
    )
    return embedding_near_dup_pairs(emb, block_col="label", vectorized=True)


# ------------------------------------------------------- similarity search

@register(
    "q33",
    oracle="""
    WITH t AS (SELECT embedding AS tv FROM embeddings WHERE vec_id = 0),
    scored AS (SELECT e.vec_id,
        list_sum(list_transform(range(1, len(e.embedding) + 1),
            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(t.tv[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(range(1, len(t.tv) + 1),
            i -> CAST(t.tv[i] AS DOUBLE) * CAST(t.tv[i] AS DOUBLE)))))
        AS sim
        FROM embeddings e, t WHERE e.vec_id <> 0)
    SELECT vec_id, ROUND(sim, 4) AS sim FROM scored
    ORDER BY sim DESC, vec_id LIMIT 5
    """,
)
def q33_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 to vec_id=0 — the exact-ANN baseline.

    The single query vector is a broadcast cross join (one row); scoring is
    a JVM fold per row; top-5 is TakeOrderedAndProject. At 100 TB this plan
    is a full scan by design — `ann_lsh_topk` is the sublinear variant.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    target = emb.where(F.col("vec_id") == 0).select(F.col("v").alias("tv"))
    return (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(target))
        .select("vec_id", F.round(cosine(F.col("v"), F.col("tv")), 4).alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(5)
    )


@register(
    "ann_lsh_topk",
    oracle="""
    WITH bucketed AS (SELECT vec_id, embedding,
        (CASE WHEN embedding[1]  >= embedding[9]  THEN '1' ELSE '0' END ||
         CASE WHEN embedding[17] >= embedding[25] THEN '1' ELSE '0' END ||
         CASE WHEN embedding[33] >= embedding[41] THEN '1' ELSE '0' END ||
         CASE WHEN embedding[49] >= embedding[57] THEN '1' ELSE '0' END) AS bucket
        FROM embeddings),
    t AS (SELECT embedding AS tv, bucket AS tb FROM bucketed WHERE vec_id = 0),
    scored AS (SELECT e.vec_id,
        list_sum(list_transform(range(1, len(e.embedding) + 1),
            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(t.tv[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(range(1, len(t.tv) + 1),
            i -> CAST(t.tv[i] AS DOUBLE) * CAST(t.tv[i] AS DOUBLE)))))
        AS sim
        FROM bucketed e, t WHERE e.vec_id <> 0 AND e.bucket = t.tb)
    SELECT vec_id, ROUND(sim, 4) AS sim FROM scored
    ORDER BY sim DESC, vec_id LIMIT 5
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5: score only vectors in the query's
    hyperplane-sign bucket (4 deterministic component-comparison planes →
    16 buckets). The scale path for similarity search: the bucket equi-join
    prunes ~15/16 of the corpus before any scoring; real deployments swap
    the planes for random projections and probe multiple buckets."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    bucketed = emb.withColumn("bucket", hyperplane_bucket(F.col("v")))
    target = bucketed.where(F.col("vec_id") == 0).select(
        F.col("v").alias("tv"), F.col("bucket").alias("tb")
    )
    return (
        bucketed.where(F.col("vec_id") != 0)
        .join(F.broadcast(target), F.col("bucket") == F.col("tb"))
        .select("vec_id", F.round(cosine(F.col("v"), F.col("tv")), 4).alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(5)
    )


def _flip_bit(tb: Column, i: int) -> Column:
    """Flip character ``i`` (0-based) of a 4-char '0'/'1' bucket string."""
    return F.concat(
        F.substring(tb, 1, i),
        F.when(F.substring(tb, i + 1, 1) == "1", F.lit("0")).otherwise(F.lit("1")),
        F.substring(tb, i + 2, 3 - i),
    )


@register(
    "ann_multiprobe_topk",
    oracle="""
    WITH bucketed AS (SELECT vec_id, embedding,
        (CASE WHEN embedding[1]  >= embedding[9]  THEN '1' ELSE '0' END ||
         CASE WHEN embedding[17] >= embedding[25] THEN '1' ELSE '0' END ||
         CASE WHEN embedding[33] >= embedding[41] THEN '1' ELSE '0' END ||
         CASE WHEN embedding[49] >= embedding[57] THEN '1' ELSE '0' END) AS bucket
        FROM embeddings),
    t AS (SELECT embedding AS tv, bucket AS tb FROM bucketed WHERE vec_id = 0),
    probes AS (SELECT tv, unnest([tb,
        (CASE WHEN substr(tb,1,1)='1' THEN '0' ELSE '1' END) || substr(tb,2,3),
        substr(tb,1,1) || (CASE WHEN substr(tb,2,1)='1' THEN '0' ELSE '1' END)
            || substr(tb,3,2),
        substr(tb,1,2) || (CASE WHEN substr(tb,3,1)='1' THEN '0' ELSE '1' END)
            || substr(tb,4,1),
        substr(tb,1,3) || (CASE WHEN substr(tb,4,1)='1' THEN '0' ELSE '1' END)
        ]) AS pb FROM t),
    scored AS (SELECT e.vec_id,
        list_sum(list_transform(range(1, len(e.embedding) + 1),
            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.tv[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(range(1, len(p.tv) + 1),
            i -> CAST(p.tv[i] AS DOUBLE) * CAST(p.tv[i] AS DOUBLE)))))
        AS sim
        FROM bucketed e JOIN probes p ON e.bucket = p.pb WHERE e.vec_id <> 0)
    SELECT vec_id, ROUND(sim, 4) AS sim FROM scored
    ORDER BY sim DESC, vec_id LIMIT 5
    """,
)
def ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-5: the query bucket PLUS its four Hamming-1
    neighbors (5 of 16 buckets probed).

    Single-bucket LSH loses neighbors that land just across a hyperplane;
    multi-probe recovers most of that recall for a bounded extra cost
    (probes/buckets of the corpus scored instead of 1/buckets) without
    adding hash tables. The probe set is exploded from the one-row query
    side and broadcast, so the corpus side still sees a single equi-join on
    its own bucket — a candidate's bucket matches at most one probe, so no
    pair dedup is needed. Scale path: probes stay O(bits) while the scored
    fraction stays sublinear."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    bucketed = emb.withColumn("bucket", hyperplane_bucket(F.col("v")))
    target = bucketed.where(F.col("vec_id") == 0).select(
        F.col("v").alias("tv"), F.col("bucket").alias("tb")
    )
    probes = target.select(
        "tv",
        F.explode(
            F.array(F.col("tb"), *[_flip_bit(F.col("tb"), i) for i in range(4)])
        ).alias("pb"),
    )
    return (
        bucketed.where(F.col("vec_id") != 0)
        .join(F.broadcast(probes), F.col("bucket") == F.col("pb"))
        .select("vec_id", F.round(cosine(F.col("v"), F.col("tv")), 4).alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(5)
    )


# ------------------------------------------------------------ text analysis

@register(
    "q32",
    oracle="""
    SELECT lang,
           ROUND(AVG(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)), 2)
               AS avg_tokens,
           COUNT(*) AS cnt
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def q32_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count per language (Q32 contract)."""
    return (
        _docs(spark, sf_dir)
        .select("lang", F.size(whitespace_tokens("text")).cast("double").alias("n_tok"))
        .groupBy("lang")
        .agg(
            F.round(F.avg("n_tok"), 2).alias("avg_tokens"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .transform(lambda d: catalog_sort(d, "lang"))
    )


def _langid_oracle() -> str:
    def hits(words: list[str]) -> str:
        inlist = ", ".join(f"'{w}'" for w in words)
        return f"len(list_filter(w, t -> t IN ({inlist})))"

    return f"""
    WITH scored AS (
        SELECT lang AS actual_lang,
               CAST(length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) AS DOUBLE)
                   / greatest(length(text), 1) AS za,
               {hits(STOPWORDS['en'])} AS s_en,
               {hits(STOPWORDS['es'])} AS s_es,
               {hits(STOPWORDS['de'])} AS s_de,
               {hits(STOPWORDS['fr'])} AS s_fr
        FROM (SELECT lang, text, string_split_regex(trim(text), '\\s+') AS w
              FROM documents)),
    pred AS (
        SELECT actual_lang,
               CASE WHEN za > 0.3 THEN 'zh'
                    WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                    WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                    WHEN s_de >= s_fr THEN 'de'
                    ELSE 'fr' END AS pred_lang
        FROM scored)
    SELECT actual_lang, pred_lang, COUNT(*) AS cnt
    FROM pred GROUP BY 1, 2 ORDER BY 1, 2
    """


@register("text_langid", oracle=_langid_oracle())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword n-gram hits + non-ASCII ratio) and its
    confusion matrix against the labeled `lang` column.

    Deterministic priority chain breaks score ties (zh → en → es → de → fr).
    Pure codegen expressions — at 100 TB this is a map-only pass plus one
    small aggregation."""
    docs = _docs(spark, sf_dir).select(
        F.col("lang").alias("actual_lang"),
        F.col("text"),
        whitespace_tokens("text").alias("w"),
    )
    scored = docs.select(
        "actual_lang",
        non_ascii_ratio("text").alias("za"),
        *[
            stopword_hits(F.col("w"), STOPWORDS[lang]).alias(f"s_{lang}")
            for lang in ("en", "es", "de", "fr")
        ],
    )
    pred = scored.select(
        "actual_lang",
        F.when(F.col("za") > 0.3, "zh")
        .when(
            (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr")),
            "en",
        )
        .when((F.col("s_es") >= F.col("s_de")) & (F.col("s_es") >= F.col("s_fr")), "es")
        .when(F.col("s_de") >= F.col("s_fr"), "de")
        .otherwise("fr")
        .alias("pred_lang"),
    )
    return (
        pred.groupBy("actual_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(lambda d: catalog_sort(d, "actual_lang", "pred_lang"))
    )


@register(
    "text_quality",
    oracle="""
    WITH q AS (SELECT source,
        least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) AS len_norm,
        least(CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
              / greatest(length(text), 1) * 10.0, 1.0) AS punct_norm,
        least(CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                    t -> t IN ('the','and','of','to','is'))) AS DOUBLE)
              / greatest(len(string_split_regex(trim(text), '\\s+')), 1) * 5.0, 1.0)
            AS stop_norm
        FROM documents)
    SELECT source, COUNT(*) AS cnt,
           ROUND(AVG(0.5 * len_norm + 0.3 * stop_norm + 0.2 * (1.0 - punct_norm)), 2)
               AS avg_quality
    FROM q GROUP BY source ORDER BY source
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality score: length norm + stopword ratio − punctuation
    density, averaged per source. All closed-form arithmetic (identical IEEE
    evaluation on both engines)."""
    from event_store_spark.functions.text import quality_score

    docs = _docs(spark, sf_dir)
    return (
        docs.select(
            "source",
            quality_score().alias("score"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg("score"), 2).alias("avg_quality"),
        )
        .transform(lambda d: catalog_sort(d, "source"))
    )


@register(
    "text_tokens_bpe",
    oracle=f"""
    SELECT lang,
           CAST(SUM(len(regexp_extract_all(text, '{BPE_TOKEN_RE}'))) AS BIGINT)
               AS total_tokens,
           ROUND(AVG(CAST(len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS DOUBLE)), 2)
               AS avg_tokens
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def text_tokens_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (letter runs | digit runs | punctuation)."""
    n_tok = F.size(F.regexp_extract_all("text", F.lit(BPE_TOKEN_RE), F.lit(0)))
    return (
        _docs(spark, sf_dir)
        .select("lang", n_tok.alias("n_tok"))
        .groupBy("lang")
        .agg(
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.round(F.avg(F.col("n_tok").cast("double")), 2).alias("avg_tokens"),
        )
        .transform(lambda d: catalog_sort(d, "lang"))
    )


#: 31^7 .. 31^0 — coefficients of the base-31 polynomial shingle hash.
#: Exact bigint in both engines: max code point 0xFFFF × Σ31^i ≈ 1.9e15,
#: far inside int64, so no modulus (and no overflow wrap to diverge on).
_POLY31 = [31**k for k in range(7, -1, -1)]


@register(
    "text_fingerprint",
    oracle=f"""
    WITH pos AS (SELECT doc_id, text,
                        UNNEST(range(1, greatest(length(text) - 7, 0) + 1)) AS p
                 FROM documents),
    fp AS (SELECT doc_id, (p - 1) // 64 AS block,
                  MIN({' + '.join(f'{c}::BIGINT * unicode(substr(text, CAST(p + {i} AS INT), 1))' for i, c in enumerate(_POLY31))}) AS fp
           FROM pos GROUP BY doc_id, (p - 1) // 64)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS distinct_fingerprints
    FROM fp
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprinting: min-hash of 8-char shingles
    per 64-char block; fingerprints per doc = ceil(positions / 64).

    The shingle hash is a base-31 polynomial over code points — exact
    int64 arithmetic both engines compute identically. Hash + per-block
    min run as an Arrow-batched pandas UDF: decode to code points once
    (`utf-32-le` frombuffer — exact for all of Unicode, no Python char
    loop), 8 vectorized multiply-adds for all positions at once,
    `np.minimum.reduceat` for the block minima. Measured at sf0.1:
    0.13 s vs 1.9 s for the equivalent all-JVM nested
    `transform(sequence(...))` expression (higher-order functions are
    interpreted per element, not codegen'd) and 2.5 s for the round-4
    md5(substr) form — the 15× is why this is one of the few deliberate
    Python boundaries (cf. crypto/aead.py). Per-row work is independent →
    embarrassingly map-parallel at 100 TB; the only exchange is the final
    tiny distinct-count agg."""
    import numpy as np
    import pandas as pd

    coef = np.array(_POLY31, dtype=np.int64)

    def block_mins(texts):
        out = []
        for t in texts:
            if t is None or len(t) < 8:
                out.append([])
                continue
            codes = np.frombuffer(
                t.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            m = len(codes) - 7
            h = np.zeros(m, dtype=np.int64)
            for i in range(8):
                h += coef[i] * codes[i : m + i]
            out.append(np.minimum.reduceat(h, np.arange(0, m, 64)).tolist())
        return pd.Series(out)

    # module uses `from __future__ import annotations` (string hints the
    # udf type-inferencer can't resolve) — declare the Series→Series
    # signature explicitly instead
    block_mins.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    block_mins = F.pandas_udf(block_mins, "array<bigint>")

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    fp = docs.select("doc_id", F.explode(block_mins("text")).alias("fp"))
    return fp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fingerprints"),
        F.countDistinct("fp").cast("bigint").alias("distinct_fingerprints"),
    )


# dedup_embedding_lsh (round 2) was folded INTO dedup_embedding above: the
# LSH bucketing it introduced is now the registered default, with the
# bucket-size guard added (VERDICT r2 item 3).


@register(
    "dedup_minhash_verified",
    oracle=f"""
    WITH {MINHASH_CAND_CTE},
    g AS (SELECT doc_id, list_distinct(list_transform(
              range(1, greatest(len(w) - 2, 0) + 1),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS grams
          FROM tok),
    v AS (SELECT c.d1, c.d2,
                 len(list_filter(ga.grams, x -> list_contains(gb.grams, x)))
                     AS inter,
                 len(ga.grams) + len(gb.grams)
                   - len(list_filter(ga.grams, x -> list_contains(gb.grams, x)))
                     AS uni
          FROM cand c JOIN g ga ON c.d1 = ga.doc_id
                      JOIN g gb ON c.d2 = gb.doc_id),
    j AS (SELECT CASE WHEN uni > 0 THEN CAST(inter AS DOUBLE) / uni
                      ELSE 0.0 END AS jac FROM v)
    SELECT CAST(COUNT(*) AS BIGINT) AS candidate_pairs,
           CAST(COUNT(*) FILTER (jac >= 0.3) AS BIGINT) AS verified_pairs,
           ROUND(MAX(jac), 4) AS max_jaccard
    FROM j
    """,
)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION two-stage near-dup shape: MinHash-LSH recall stage →
    exact Jaccard verify stage (threshold 0.3) on the surviving candidates.

    `dedup_minhash_lsh` stops at candidate counting; real dedup pipelines
    verify every LSH candidate exactly before dropping documents, because
    banding admits false positives by construction. Verification goes
    through `plans.jaccard.exact_jaccard` (VERDICT r8 #2): candidates
    meet fixed-width ≤K-long gram-hash SKETCHES (the full distinct set
    whenever a doc has ≤ K grams, an exact inverted-index row re-check
    otherwise) instead of full gram string arrays, so the verify join
    moves O(1) bytes per doc at any document length. No size-ratio prune
    here — the query reports max_jaccard over ALL candidates, so every
    pair's exact jac is computed. This candidates→verify shape is
    exactly how a 100 TB dedup run spends its budget: signature build
    O(corpus), verification O(candidates)."""
    from event_store_spark.plans.jaccard import (
        exact_jaccard,
        verify_sketches,
    )

    docs = _docs(spark, sf_dir)
    cand = _minhash_candidates(spark, sf_dir)
    verified = exact_jaccard(
        docs, cand, "d1", "d2", sketches=verify_sketches(spark, sf_dir)
    )
    return verified.agg(
        F.count(F.lit(1)).cast("bigint").alias("candidate_pairs"),
        F.count(F.when(F.col("jac") >= 0.3, 1)).cast("bigint").alias("verified_pairs"),
        F.round(F.max("jac"), 4).alias("max_jaccard"),
    )


@register(
    "ann_batch_topk",
    oracle="""
    WITH bucketed AS (SELECT vec_id, embedding,
        (CASE WHEN embedding[1]  >= embedding[9]  THEN '1' ELSE '0' END ||
         CASE WHEN embedding[17] >= embedding[25] THEN '1' ELSE '0' END ||
         CASE WHEN embedding[33] >= embedding[41] THEN '1' ELSE '0' END ||
         CASE WHEN embedding[49] >= embedding[57] THEN '1' ELSE '0' END) AS bucket
        FROM embeddings),
    q AS (SELECT vec_id AS qid, embedding AS qv, bucket AS qb
          FROM bucketed WHERE vec_id < 10),
    scored AS (SELECT q.qid, e.vec_id,
        list_sum(list_transform(range(1, len(e.embedding) + 1),
            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(range(1, len(q.qv) + 1),
            i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))))
        AS sim
        FROM bucketed e JOIN q ON e.bucket = q.qb AND e.vec_id <> q.qid),
    ranked AS (SELECT qid, vec_id, sim,
                      ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY sim DESC, vec_id) AS rk
               FROM scored)
    SELECT qid, vec_id, ROUND(sim, 4) AS sim, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 3 ORDER BY qid, rk
    """,
)
def ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join: top-3 bucket-pruned neighbors for EACH of a set of
    query vectors (vec_id < 10) — the actual similarity-search workload
    (embedding a query batch, joining a corpus), not the single-probe case.

    The whole query set rides ONE broadcast; the corpus side sees a single
    equi-join on its own bucket, and the per-query top-k is a window
    PARTITIONED BY query id — parallel across queries, never a global sort.
    At 100 TB the query side stays a broadcast until millions of queries,
    at which point both sides hash-partition on the bucket — the same plan
    with the broadcast hint removed."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    bucketed = emb.withColumn("bucket", hyperplane_bucket(F.col("v")))
    queries = bucketed.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("bucket").alias("qb")
    )
    from pyspark.sql import Window as W

    scored = (
        bucketed.join(
            F.broadcast(queries),
            (F.col("bucket") == F.col("qb")) & (F.col("vec_id") != F.col("qid")),
        )
        .select("qid", "vec_id", cosine(F.col("v"), F.col("qv")).alias("sim"))
    )
    w = W.partitionBy("qid").orderBy(F.col("sim").desc(), "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "qid",
            "vec_id",
            F.round("sim", 4).alias("sim"),
            F.col("rk").cast("int").alias("rk"),
        )
        .orderBy("qid", "rk")
    )
