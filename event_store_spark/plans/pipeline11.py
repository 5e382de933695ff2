"""Training-pipeline operators, round 8: winnowing fingerprints,
source-pair similarity, and collocation (phrase) mining.

- `text_winnowing`: the winnowing document-fingerprint scheme (Schleimer,
  Wilkerson, Aiken, SIGMOD 2003 — the MOSS algorithm): slide a window of
  W consecutive k-gram values per document and keep each window's
  minimum, guaranteeing any shared run of ≥ W+k-1 tokens between two
  documents shares at least one selected fingerprint while storing only
  ~2/(W+1) of the grams. Selection here orders grams lexicographically
  (any total order preserves the detection guarantee, and string order is
  bit-identical across engines, where min-by-hash would entangle the
  oracle with a specific hash function). Output: document pairs ranked by
  shared-fingerprint count — the plagiarism/near-dup detector the scheme
  exists for.
- `source_similarity_jaccard`: the exact pairwise Jaccard matrix over the
  sources' distinct 3-gram vocabularies — the corpus-overlap report a
  mixture designer reads before weighting a new source
  (`source_ngram_novelty` gives each source one exclusivity scalar; this
  gives the source×source structure).
- `phrase_collocations`: word2vec-style phrase mining (Mikolov et al.
  2013): score adjacent word pairs by discounted lift
  ``(c_xy − δ)·N / (c_x·c_y)`` and keep the top collocations. The score
  is computed in exact BIGINT arithmetic (scaled by 1000, truncating
  integer division) so both engines agree to the bit — no float log.

Scale shapes (the repo's standard dedup discipline):
- winnowing: per-doc gram/window selection is pure Catalyst array code
  inside codegen; one shuffle for the distinct (doc, fingerprint) set;
  the pair join is keyed by fingerprint with a frequency cap (a
  fingerprint seen in more than MAX_FP_DOCS documents is dropped as
  non-discriminative — the standard stoplist rule, and the in-plan bound
  that keeps per-key pair fan-out ≤ MAX_FP_DOCS², never O(corpus²)).
- source similarity: grams travel as xxhash64 longs; one shuffle groups
  by gram, the per-gram source set (≤ #sources) expands to ordered pairs
  in-row, and the size table is #sources rows (broadcast).
- collocations: two hash aggregations (bigram counts, unigram counts);
  the unigram side is vocabulary-bounded, hence broadcast onto the
  bigram table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_store_spark.functions.text import whitespace_tokens
from event_store_spark.plans.finalsort import catalog_sort
from event_store_spark.plans.registry import register
from event_store_spark.tables import load_table

#: winnowing parameters: k-gram size, window width, guarantee length t =
#: W + K - 1 = 8 tokens (the duplicate_spans span length, deliberately)
WIN_K = 4
WIN_W = 5
#: stoplist rule: fingerprints in more documents than this are dropped
MAX_FP_DOCS = 50
#: report pairs sharing at least this many fingerprints
MIN_SHARED = 2

#: collocation parameters: word2vec's discount and a support floor
PMI_DISCOUNT = 5
PMI_MIN_COUNT = 10


def winnow_fingerprints(
    docs: DataFrame, keep: tuple = ("doc_id",), tokenized: bool = False
) -> DataFrame:
    """(keep columns..., f): each document's DISTINCT winnowing
    fingerprints, for an arbitrary frame carrying ``text`` — the
    selection formula itself, factored out of the sf_dir-bound
    `text_winnowing` so index builders (`plans.dedup_index`) can run it
    over any corpus slice or arriving batch.

    ``tokenized=True``: the frame already carries the token array as
    ``w`` (the tokenize-at-ingest side table, `plans.tokenized`) — the
    regex split and the string scan it implies are skipped entirely;
    at sf0.1 the split was ~a third of the two winnow consumers' cost
    (VERDICT r11 #2).

    Grams are {WIN_K}-token STRUCTS, never concatenated strings: the
    fingerprint is only ever a comparison/join/group key, and for
    whitespace tokens the struct's field-wise order EQUALS the
    space-joined string's order (the ' ' separator sorts below every
    non-space character), so the oracle's string-min selection picks the
    same grams — skipping concat_ws removed ~9 s of the 12 s sf0.1
    runtime (building n strings in an interpreted lambda dominated).
    CLEAN-TOKEN PRECONDITION: the struct/string order equivalence holds
    only when tokens contain no code point below U+0020 — a control
    character inside a token (not whitespace, so `\\s+` leaves it in)
    sorts below ' ' and can flip which gram a window's string-min picks
    ('ab' < 'ab\\x01' field-wise but 'ab …' > 'ab\\x01…' joined). Corpus
    text is expected pre-sanitized (the fixtures are; a production
    cleaning pass strips C0 controls before dedup anyway) — feed raw
    text through a control-stripping normalizer first if that guarantee
    is not already upstream.
    Window minima by doubling (sparse table): m2[i]=min(gr[i..i+1]),
    m4[i]=min(gr[i..i+3]), w5[i]=min(m4[i],m4[i+1])=min(gr[i..i+4]);
    the window overlap is harmless for min. ~3n O(1) lambda evaluations
    instead of (n−W+1) per-window slice()+array_min() allocations —
    higher-order functions are INTERPRETED, so per-call constants
    dominate (4× faster at sf0.1). Each level is its own projection,
    referenced twice downstream, so CollapseProject keeps it
    materialized instead of inlining the recomputation. The doubling ≡
    brute-force window-min and the K+W−1 detection guarantee are
    hypothesis-pinned (tests/test_winnowing_properties.py)."""
    cols = list(keep)
    base = (
        docs.select(*cols, "w")
        if tokenized
        else docs.select(*cols, whitespace_tokens("text").alias("w"))
    ).where(F.size("w") >= WIN_K + WIN_W - 1)
    gram_expr = (
        "transform(sequence(0, size(w) - {k}), i -> "
        "struct({fields}))".format(
            k=WIN_K,
            fields=", ".join(f"w[i+{j}] AS t{j}" for j in range(WIN_K)),
        )
    )
    lvl = (
        base.select(*cols, F.expr(gram_expr).alias("gr"))
        .withColumn(
            "m2",
            F.expr("transform(sequence(0, size(gr) - 2), i -> least(gr[i], gr[i+1]))"),
        )
        .withColumn(
            "m4",
            F.expr("transform(sequence(0, size(m2) - 3), i -> least(m2[i], m2[i+2]))"),
        )
        .withColumn(
            "w5",
            F.expr("transform(sequence(0, size(m4) - 2), i -> least(m4[i], m4[i+1]))"),
        )
    )
    return lvl.select(
        *cols, F.explode(F.array_distinct("w5")).alias("f")
    ).distinct()


#: shared winnowing-pair CTE chain (ends in ``dups``: doc_a < doc_b
#: pairs passing the stoplist + MIN_SHARED rules)
_WINNOW_PAIRS_CTE = f"""
    toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
             FROM documents),
    g AS (SELECT doc_id,
                 list_transform(range(1, len(w) - {WIN_K - 1} + 1),
                     i -> array_to_string(w[i:i + {WIN_K - 1}], ' ')) AS gr
          FROM toks WHERE len(w) >= {WIN_K}),
    fp AS (SELECT DISTINCT doc_id,
                  UNNEST(list_transform(range(1, len(gr) - {WIN_W - 1} + 1),
                      j -> list_min(gr[j:j + {WIN_W - 1}]))) AS f
           FROM g WHERE len(gr) >= {WIN_W}),
    keep AS (SELECT f FROM fp GROUP BY f
             HAVING COUNT(*) <= {MAX_FP_DOCS}),
    fpk AS (SELECT doc_id, f FROM fp JOIN keep USING (f)),
    pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     COUNT(*) AS n_shared
              FROM fpk a JOIN fpk b USING (f)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
    dups AS (SELECT * FROM pairs WHERE n_shared >= {MIN_SHARED})"""


@register(
    "text_winnowing",
    oracle=f"""
    WITH {_WINNOW_PAIRS_CTE}
    SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared
    FROM dups
    ORDER BY n_shared DESC, doc_a, doc_b LIMIT 50
    """,
)
def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint document pairs: shared selected-gram counts.

    Per document the {WIN_K}-gram array is PROJECTED before the window
    lambda references it (text_repetition's measured rule: an inlined
    split re-tokenizes per window), then each of the n−W+1 windows keeps
    its lexicographic minimum gram — `slice` + `array_min`, all inside
    whole-stage codegen. `array_distinct` collapses the run-length
    repeats (adjacent windows usually share their minimum) BEFORE the
    explode, so the shuffled fingerprint set is the winnowed ~2/(W+1)
    density, not the full window count. ONE shuffle then groups by
    fingerprint; the per-fingerprint sorted doc set (≤ MAX_FP_DOCS after
    the stoplist filter — the in-plan bound) expands to ordered pairs
    in-row, so shared-count aggregation never self-joins the fingerprint
    table and the corpus text is scanned exactly once. Tokens come from
    the ingest-tokenized side table (`plans.tokenized`) — the query
    never regex-splits or even scans the text column."""
    pairs = _winnow_pairs(_winnow_fp(spark, sf_dir))
    return pairs.orderBy(
        F.desc("n_shared"), "doc_a", "doc_b"
    ).limit(50)


@register(
    "dedup_winnow_drops",
    oracle=f"""
    WITH {_WINNOW_PAIRS_CTE},
    ranked AS (SELECT doc_b, doc_a, n_shared,
                      ROW_NUMBER() OVER (PARTITION BY doc_b
                                         ORDER BY doc_a) AS rn
               FROM dups)
    SELECT doc_b AS doc_id, doc_a AS witness_doc_id,
           CAST(n_shared AS BIGINT) AS n_shared
    FROM ranked WHERE rn = 1 ORDER BY doc_id
    """,
)
def dedup_winnow_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The condemned list under the winnowing keep-lowest rule: every
    document sharing ≥ MIN_SHARED fingerprints with ANY lower-doc_id
    document, with its smallest such witness and that pair's shared
    count — the deletion manifest an exact-substring dedup pass emits
    (Lee et al.'s operational output), dual to `text_winnowing`'s
    ranked pair report. Same single-scan pair plan (tokens served from
    the ingest-tokenized side table); one extra doc_b-partitioned
    window picks the witness."""
    from pyspark.sql import Window

    pairs = _winnow_pairs(_winnow_fp(spark, sf_dir))
    w = Window.partitionBy("doc_b").orderBy("doc_a")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("witness_doc_id"),
            F.col("n_shared"),
        )
        .orderBy("doc_id")
    )


def _winnow_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, f) — each document's distinct winnowing fingerprints as
    xxhash64 longs, served from the ingest side table's `wf` column
    (r12, VERDICT r11 #2): a pruned scan of ONE bigint-array column —
    the whole gram/window-min selection runs at ingest, and the pair
    stage groups by an 8-byte long instead of a 4-string struct (the
    same contract move as dedup_ngram_jaccard's `g3` reroute; hashes are
    join/group keys only, 2^-64-collision trade documented there)."""
    from event_store_spark.plans.tokenized import tokenized_docs

    return tokenized_docs(
        spark, sf_dir, docs_fn=lambda: load_table(spark, sf_dir, "documents")
    ).select("doc_id", F.explode("wf").alias("f"))


def _winnow_pairs(fp: DataFrame) -> DataFrame:
    """(doc_a < doc_b, n_shared ≥ MIN_SHARED): the winnowing pair table
    under the registered stoplist + threshold rules — shared by
    `text_winnowing` and `dedup_winnow_drops`. ``fp``: (doc_id, f)
    distinct fingerprints per doc."""
    pair_expr = (
        "flatten(transform(ds, (a, i) -> "
        "transform(slice(ds, i + 2, size(ds)), "
        "b -> struct(a AS doc_a, b AS doc_b))))"
    )
    return (
        fp.groupBy("f")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
        .where(
            (F.size("ds") >= 2) & (F.size("ds") <= MAX_FP_DOCS)
        )
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= MIN_SHARED)
    )


@register(
    "source_similarity_jaccard",
    oracle="""
    WITH tok AS (SELECT doc_id, source,
                        string_split_regex(trim(text), '\\s+') AS w
                 FROM documents),
    sh AS (SELECT DISTINCT source,
                  hash(UNNEST(list_transform(
                      range(1, greatest(len(w) - 2, 0) + 1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS g
           FROM tok),
    inter AS (SELECT a.source AS sa, b.source AS sb, COUNT(*) AS n
              FROM sh a JOIN sh b USING (g)
              WHERE a.source < b.source GROUP BY 1, 2),
    sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source)
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(COALESCE(i.n, 0) AS BIGINT) AS n_common,
           CAST(FLOOR(10000.0 * COALESCE(i.n, 0)
                / (a.n + b.n - COALESCE(i.n, 0))) AS BIGINT) AS jaccard_bp
    FROM sizes a JOIN sizes b ON a.source < b.source
    LEFT JOIN inter i ON i.sa = a.source AND i.sb = b.source
    ORDER BY src_a, src_b
    """,
)
def source_similarity_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact source×source Jaccard over distinct 3-gram vocabularies.

    Grams travel as xxhash64 longs (join/group keys only, never output —
    the contamination_ngram contract). ONE shuffle groups the distinct
    (gram, source) set by gram; the per-gram sorted source set (≤
    #sources elements) expands to its ordered pairs in-row with a nested
    `transform` + `flatten`, so intersection counting never self-joins
    the gram table. Sizes and the all-pairs frame are #sources rows —
    driver-small by definition (a source catalog), broadcast.

    Serves from the ingest-tokenized side table (plans/tokenized.py,
    VERDICT r9 #5 — this query re-tokenized the full corpus per run,
    21.0 s at the 100× dossier): a pruned (source, g3) scan, zero
    query-time tokenize/hash work. ONE heavy exchange total: the
    exploded grams go straight into a per-gram collect_set(source)
    (within-source duplicates collapse inside the set exactly as the
    removed `.distinct()` did), and BOTH downstream consumers —
    intersections AND per-source vocabulary sizes — derive from that
    one grouped table; the first cut computed the distinct (source, g)
    set separately for each consumer, scanning and shuffling the gram
    space twice (measured 21.0 → ~11 s at the 100× corpus). The grouped
    table is the memoized+cached `source_gram_sets` build SHARED with
    source_ngram_novelty. The sizes re-aggregate explodes per-gram
    source sets, but its groupBy has #sources keys, so map-side
    partials collapse the exchange to partitions×sources rows."""
    from event_store_spark.plans.tokenized import (
        source_gram_comatrix,
        source_gram_sets,
    )

    got = source_gram_comatrix(
        spark, sf_dir,
        docs_fn=lambda: load_table(spark, sf_dir, "documents"),
    )
    if got is not None:
        # r12: the whole source×source statistic is the bit-indicator
        # GRAM matrix product Bᵀ·B (B = grams × k source bits): its
        # diagonal is the per-source vocabulary sizes and its (i,j)
        # entries the pairwise intersections (the sorted-set plan's
        # interpreted slice/transform pair expansion measured 1.3-1.4 s
        # at sf0.1 and scales with the gram space).
        #
        # r13 (VERDICT r12 #4, which directed exactly this): the fold
        # lives in the shared `source_gram_comatrix` build — memoized +
        # cached per (session, corpus) like the mask table it derives
        # from — and its cells no longer take a driver round trip per
        # invocation (the r12 form re-paid a fetch into a local rows
        # table on every call, which is why its stage win never showed
        # up in the driver's per-query time). The pair catalog is an
        # IN-PLAN literal array over range(1) — spliced as ONE SQL
        # string, not k² Column objects, per the SimHash py4j lesson —
        # and the query is now a pure lazy plan. The final basis-point
        # projection is the IDENTICAL Spark expression, so emitted
        # values are unchanged.
        counts, sources = got
        k = len(sources)
        # ONE reference to the folded aggregate: the ≤k(k+1)/2 cells
        # collapse into a single map<int,long> row ((i·64+j) → n, sound
        # for k ≤ 32 < 64) that broadcasts onto the literal pair
        # catalog. Three separate diagonal/off-diagonal join references
        # measured NO AQE stage reuse — the mapInArrow fold materialized
        # once per reference, tripling the query's real work.
        cells = counts.agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        (F.col("i") * 64 + F.col("j")).cast("int"),
                        F.col("n"),
                    )
                )
            ).alias("m")
        )

        def _q(s: str) -> str:
            return s.replace("\\", "\\\\").replace("'", "\\'")

        pair_sql = "array({})".format(
            ", ".join(
                f"struct({i} AS i, {j} AS j, "
                f"'{_q(sources[i])}' AS src_a, '{_q(sources[j])}' AS src_b)"
                for i in range(k)
                for j in range(i + 1, k)
            )
        )
        allp = (
            spark.range(1)
            .select(F.explode(F.expr(pair_sql)).alias("p"))
            .select("p.*")
        )
        cell = lambda a, b: F.element_at(  # noqa: E731
            F.col("m"), (F.col(a) * 64 + F.col(b)).cast("int")
        )
        n = F.coalesce(cell("i", "j"), F.lit(0))
        out = (
            allp.crossJoin(F.broadcast(cells))
            .withColumn("na", F.coalesce(cell("i", "i"), F.lit(0)))
            .withColumn("nb", F.coalesce(cell("j", "j"), F.lit(0)))
            # a gram-less source never enters the size table in the join
            # form — same exclusion here (the fold emits explicit zeros)
            .where((F.col("na") > 0) & (F.col("nb") > 0))
            .select(
                "src_a",
                "src_b",
                n.cast("bigint").alias("n_common"),
                F.floor(
                    10000.0 * n / (F.col("na") + F.col("nb") - n)
                )
                .cast("bigint")
                .alias("jaccard_bp"),
            )
        )
        return catalog_sort(out, "src_a", "src_b")

    # fallback past the source-catalog guard: the r11 sorted-set plan
    per_gram = source_gram_sets(
        spark, sf_dir,
        docs_fn=lambda: load_table(spark, sf_dir, "documents"),
    )
    pair_expr = (
        "flatten(transform(srcs, (x, i) -> "
        "transform(slice(srcs, i + 2, size(srcs)), "
        "y -> struct(x AS sa, y AS sb))))"
    )
    inter = (
        per_gram.where(F.size("srcs") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(F.col("p.sa").alias("sa"), F.col("p.sb").alias("sb"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sizes = (
        per_gram.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    b = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    allp = a.join(b, F.col("src_a") < F.col("src_b"))
    out = allp.join(
        F.broadcast(inter),
        (F.col("src_a") == F.col("sa")) & (F.col("src_b") == F.col("sb")),
        "left",
    ).select(
        "src_a",
        "src_b",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_common"),
        F.floor(
            10000.0
            * F.coalesce(F.col("n"), F.lit(0))
            / (F.col("na") + F.col("nb") - F.coalesce(F.col("n"), F.lit(0)))
        )
        .cast("bigint")
        .alias("jaccard_bp"),
    )
    return out.orderBy("src_a", "src_b")


@register(
    "phrase_collocations",
    oracle=f"""
    WITH toks AS (SELECT string_split_regex(trim(text), '\\s+') AS w
                  FROM documents),
    big AS (SELECT w[i] AS w1, w[i+1] AS w2
            FROM toks, UNNEST(range(1, len(w))) AS t(i)
            WHERE len(w) >= 2),
    bc AS (SELECT w1, w2, COUNT(*) AS c_xy FROM big GROUP BY 1, 2),
    uni AS (SELECT UNNEST(w) AS word FROM toks),
    uc AS (SELECT word, COUNT(*) AS c FROM uni GROUP BY 1),
    tot AS (SELECT (SELECT COUNT(*) FROM uni) AS n_uni)
    SELECT b.w1 AS word1, b.w2 AS word2,
           CAST(b.c_xy AS BIGINT) AS n_pair,
           CAST((1000 * (b.c_xy - {PMI_DISCOUNT}) * t.n_uni)
                // (u1.c * u2.c) AS BIGINT) AS score_milli
    FROM bc b
    JOIN uc u1 ON u1.word = b.w1
    JOIN uc u2 ON u2.word = b.w2
    CROSS JOIN tot t
    WHERE b.c_xy >= {PMI_MIN_COUNT}
    ORDER BY score_milli DESC, word1, word2 LIMIT 20
    """,
)
def phrase_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top adjacent-word collocations by discounted lift (word2vec
    phrases): ``1000·(c_xy − δ)·N ÷ (c_x·c_y)`` in truncating BIGINT
    division — bit-identical across engines, no float log.

    Plan: one explode produces token positions; bigram and unigram
    counts are two hash aggregations over it (map-side partials); the
    unigram count table is VOCABULARY-sized, so both lookups broadcast
    onto the bigram table, and the scalar total rides along as a
    broadcast single-row cross join. Nothing corpus-sized shuffles more
    than once."""
    docs = load_table(spark, sf_dir, "documents").select(
        whitespace_tokens("text").alias("w")
    )
    bigrams = docs.where(F.size("w") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(w) - 2),"
                " i -> struct(w[i] AS w1, w[i + 1] AS w2))"
            )
        ).alias("p")
    )
    bc = bigrams.groupBy(
        F.col("p.w1").alias("word1"), F.col("p.w2").alias("word2")
    ).agg(F.count(F.lit(1)).alias("c_xy"))
    uni = docs.select(F.explode("w").alias("word"))
    uc = uni.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    n_uni = uni.agg(F.count(F.lit(1)).alias("n_uni"))
    scored = (
        bc.where(F.col("c_xy") >= PMI_MIN_COUNT)
        .join(
            F.broadcast(uc.select(F.col("word").alias("word1"),
                                  F.col("c").alias("c1"))),
            "word1",
        )
        .join(
            F.broadcast(uc.select(F.col("word").alias("word2"),
                                  F.col("c").alias("c2"))),
            "word2",
        )
        .crossJoin(F.broadcast(n_uni))
        .select(
            "word1",
            "word2",
            F.col("c_xy").cast("bigint").alias("n_pair"),
            F.expr(
                f"(1000 * (c_xy - {PMI_DISCOUNT}) * n_uni)"
                " DIV (c1 * c2)"
            ).cast("bigint").alias("score_milli"),
        )
    )
    return scored.orderBy(
        F.desc("score_milli"), "word1", "word2"
    ).limit(20)
