"""Training-pipeline operators, round 6: exact substring-duplication
spans and scalar-quantized (int8) similarity search.

- duplicate_spans: the signal behind exact-substring dedup ("Deduplicating
  Training Data Makes Language Models Better", Lee et al. 2021): for each
  document, how many token positions are covered by an 8-token span that
  also occurs verbatim in another document. The reference implementation
  builds a corpus-wide suffix array — a global sorted structure Spark
  should NOT imitate. The Spark-native equivalent: fingerprint every
  8-gram, find grams seen in >1 doc with one hash aggregation, and merge
  the surviving per-doc position intervals with a window — every stage is
  keyed (gram hash, then doc_id), nothing is corpus-global.
- ann_sq8_topk: per-dimension scalar quantization of the embedding corpus
  to int8 (the storage/IO play every vector store makes at scale: 4 bytes
  → 1 byte per dim) and cosine top-k over the RECONSTRUCTED vectors —
  measuring exactly what recall the compression costs, since the oracle
  computes the identical quantize→reconstruct arithmetic.

Same design rules as the rest of plans/: built-in Catalyst expressions,
DuckDB-oracle-checked, no corpus-global single-partition stage.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_store_spark.functions.text import whitespace_tokens
from event_store_spark.functions.vectors import as_double, cosine
from event_store_spark.plans.registry import register
from event_store_spark.tables import load_table

#: span length (tokens) for exact-duplication detection — Lee et al. use
#: 50 BPE tokens on web-scale corpora; 8 whitespace tokens is the same
#: operator scaled to the fixture's ~50-token documents.
SPAN_TOKENS = 8


@register(
    "duplicate_spans",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
                  FROM documents),
    pos AS (SELECT doc_id, len(w) AS n,
                   UNNEST(range(0, len(w) - {SPAN_TOKENS - 1})) AS p, w
            FROM toks WHERE len(w) >= {SPAN_TOKENS}),
    grams AS (SELECT doc_id, n, p,
                     array_to_string(w[p + 1:p + {SPAN_TOKENS}], ' ') AS gram
              FROM pos),
    dup AS (SELECT gram FROM grams GROUP BY gram
            HAVING MIN(doc_id) <> MAX(doc_id)),
    hits AS (SELECT g.doc_id, g.n, g.p FROM grams g JOIN dup USING (gram)),
    cov AS (SELECT doc_id, n, p,
                   GREATEST(0, p + {SPAN_TOKENS} - GREATEST(p,
                       COALESCE(MAX(p + {SPAN_TOKENS}) OVER (
                           PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0))) AS c
            FROM hits),
    agg AS (SELECT doc_id, MAX(n) AS n_tokens, SUM(c) AS covered
            FROM cov GROUP BY doc_id)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(covered AS BIGINT) AS covered_tokens,
           CAST(FLOOR(10000.0 * covered / n_tokens) AS BIGINT) AS coverage_bp
    FROM agg WHERE covered > 0
    ORDER BY covered_tokens DESC, doc_id LIMIT 30
    """,
)
def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token coverage by cross-document duplicated 8-grams —
    the top-30 most exactly-duplicated documents.

    Plan (suffix-array semantics, no suffix array):
    1. one tokenize pass, posexplode the 8-gram xxhash64 fingerprints →
       (doc_id, start_pos, gram_hash); grams travel as 8-byte longs
       (`word_ngram_hashes` — the gram never reaches the output);
    2. ONE hash aggregation by gram: carry MIN/MAX doc and the occurrence
       list; grams seen in a single doc (MIN = MAX) are dropped, survivors
       explode their occurrences back out — one corpus tokenization and
       one shuffle, where the aggregate-then-join form tokenizes and
       explodes the corpus twice (at sf0.1 the two differ little — 1.34 s
       vs 1.41 s, the explode dominates both — but at 100 TB the second
       full scan+tokenize is the cost that matters). The per-gram
       occurrence list is bounded by gram fan-out, same contract (and
       same stop-phrase caveat) as contamination_ngram;
    4. interval union per doc: ONE hash aggregate collects each doc's
       hit starts, then a Catalyst `aggregate` fold over the sorted
       array computes the union length (overlapping spans contribute
       only their uncovered suffix) — the r5 verdict measured the
       previous doc-partitioned window form at 13.1 s on the 10×
       corpus; the window's exchange+sort over every exploded hit is
       replaced by an exchange-only hash agg (collect_list partials
       merge map-side) plus an in-array fold that sorts each doc's
       positions locally (O(hits·log hits) per doc, not a partition
       sort).

    Scale: stages 1–3 are keyed by gram hash (cardinality ≈ corpus
    positions — no skew beyond natural gram popularity, and a
    stop-phrase-grade gram dropped by MIN<>MAX only after its partials
    collapse map-side); stage 4 is keyed by doc_id and each doc's
    positions fit a task by construction (bounded by the doc's token
    count). Compare the reference dedup's single-node suffix automaton
    (SURVEY §2 — reference has no substring dedup at all; this is part
    of the LLM-pipeline surface)."""
    # pre-hash each token ONCE, then combine 8 longs per position —
    # word_ngram_hashes' direct form re-hashes every token string ~8
    # times across the overlapping grams (measured 2.3 s vs 1.95 s for
    # the gram scan at the 10× corpus); same key semantics (xxhash64
    # folds its args, so token boundaries stay encoded). The per-token
    # hashes are served from the ingest-tokenized side table
    # (plans/tokenized.py, VERDICT r9 #5 — this query re-tokenized the
    # full corpus per run, 15.2 s at the 100× dossier): a pruned
    # (doc_id, th) scan, no strings in the plan at query time.
    from event_store_spark.plans.tokenized import tokenized_docs

    slots = ", ".join(f"th[i + {j}]" for j in range(SPAN_TOKENS))
    gram_hashes = F.expr(
        f"transform(sequence(0, size(th) - {SPAN_TOKENS}), i -> xxhash64({slots}))"
    )
    grams = (
        tokenized_docs(
            spark, sf_dir,
            docs_fn=lambda: load_table(spark, sf_dir, "documents"),
        )
        .select("doc_id", "th")
        .where(F.size("th") >= SPAN_TOKENS)
        .select("doc_id", F.size("th").alias("n"), "th")
        .select("doc_id", "n", F.posexplode(gram_hashes).alias("p", "g"))
    )
    hits = (
        grams.groupBy("g")
        .agg(
            F.min("doc_id").alias("_mn"),
            F.max("doc_id").alias("_mx"),
            F.collect_list(F.struct("doc_id", "n", "p")).alias("occs"),
        )
        .where(F.col("_mn") != F.col("_mx"))
        .select(F.explode("occs").alias("o"))
        .select("o.doc_id", "o.n", "o.p")
    )
    # union length of [p, p+SPAN) intervals: left fold over the sorted
    # starts, acc = (covered so far, furthest end) — prev_end starts at 0
    # exactly as the window form's COALESCE(.., 0) did
    union_len = F.expr(
        f"""aggregate(
              sort_array(ps),
              named_struct('cov', 0L, 'e', 0L),
              (acc, p) -> named_struct(
                  'cov', acc.cov + greatest(0L, CAST(p AS BIGINT)
                          + {SPAN_TOKENS}L
                          - greatest(CAST(p AS BIGINT), acc.e)),
                  'e', greatest(acc.e, CAST(p AS BIGINT) + {SPAN_TOKENS}L)),
              acc -> acc.cov)"""
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.max("n").cast("bigint").alias("n_tokens"),
            F.collect_list("p").alias("ps"),
        )
        .select(
            "doc_id", "n_tokens", union_len.cast("bigint").alias("covered_tokens")
        )
        .where(F.col("covered_tokens") > 0)
        .select(
            "doc_id",
            "n_tokens",
            "covered_tokens",
            F.floor(10000.0 * F.col("covered_tokens") / F.col("n_tokens"))
            .cast("bigint")
            .alias("coverage_bp"),
        )
        .orderBy(F.col("covered_tokens").desc(), "doc_id")
        .limit(30)
    )


@register(
    "bpe_pair_counts",
    oracle="""
    WITH toks AS (SELECT string_split_regex(trim(text), '\\s+') AS w
                  FROM documents),
    pairs AS (SELECT w[i] AS t1, w[i + 1] AS t2
              FROM toks, UNNEST(range(1, len(w))) AS u(i)
              WHERE len(w) >= 2)
    SELECT t1, t2, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY t1, t2
    ORDER BY n DESC, t1, t2 LIMIT 20
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent-token-pair frequencies, top 20 — the counting
    step of one BPE merge round (the merge rule is argmax over exactly
    this table), run at word level on the fixture corpus.

    Tokenizer induction over a pretraining corpus is this aggregation
    iterated: count pairs → pick argmax → re-segment → recount. The
    Spark-native shape is explode + hash agg with map-side partials (the
    classic word-count skeleton, keyed by pair, so the hot pairs collapse
    before the shuffle); top-20 is TakeOrdered. The re-segment step would
    be a broadcast of the merge table back over the corpus — same
    broadcast-small-state pattern as the IVF centroids."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        docs.select(whitespace_tokens("text").alias("w"))
        .where(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 2),"
                    " i -> struct(w[i] AS t1, w[i + 1] AS t2))"
                )
            ).alias("p")
        )
    )
    return (
        pairs.select("p.t1", "p.t2")
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "t1", "t2")
        .limit(20)
    )


@register(
    "ann_sq8_topk",
    oracle="""
    WITH dims AS (SELECT i,
                         MIN(CAST(embedding[i] AS DOUBLE)) AS mn,
                         MAX(CAST(embedding[i] AS DOUBLE)) AS mx
                  FROM embeddings,
                       UNNEST(range(1, len(embedding) + 1)) AS t(i)
                  GROUP BY i),
    lims AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
             FROM dims),
    recon AS (SELECT vec_id,
        list_transform(range(1, len(embedding) + 1), i ->
            CASE WHEN mxs[i] = mns[i] THEN mns[i]
                 ELSE (FLOOR((CAST(embedding[i] AS DOUBLE) - mns[i]) * 255.0
                             / (mxs[i] - mns[i]) + 0.5) - 128 + 128)
                      * (mxs[i] - mns[i]) / 255.0 + mns[i]
            END) AS r
        FROM embeddings, lims),
    q AS (SELECT r AS qv FROM recon WHERE vec_id = 0),
    scored AS (SELECT e.vec_id,
        list_sum(list_transform(range(1, len(e.r) + 1),
            i -> e.r[i] * q.qv[i]))
        / (sqrt(list_sum(list_transform(range(1, len(e.r) + 1),
            i -> e.r[i] * e.r[i])))
         * sqrt(list_sum(list_transform(range(1, len(q.qv) + 1),
            i -> q.qv[i] * q.qv[i])))) AS sim
        FROM recon e, q WHERE e.vec_id <> 0)
    SELECT vec_id, ROUND(sim, 4) AS sim FROM scored
    ORDER BY sim DESC, vec_id LIMIT 5
    """,
)
def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-5 to vec_id=0 over the int8 scalar-quantized corpus.

    Per-dimension SQ8: codebook = (min_d, max_d) per dimension — one
    posexplode + 64-row aggregation, folded to two broadcast arrays
    in-plan (array_sort(collect_list) over 64 structs, no driver
    round-trip). Quantize q_d = floor((x−mn)·255/(mx−mn) + 0.5) − 128
    (exact half-up in both engines — `round()` differs between them),
    stored as array<tinyint>: the 4×-smaller column is what a 100 TB
    vector corpus ships and caches. The query scores RECONSTRUCTED
    vectors, so the result measures true post-compression recall, and the
    oracle runs the identical arithmetic (same IEEE-754 op order) rather
    than pretending compression is lossless. Degenerate dims (mx = mn)
    reconstruct to the constant.

    Scale: codebook is O(dims) broadcast state like the IVF centroids
    (plans/ivf.py); scoring stays brute-force-over-candidates by design —
    compose with the LSH/IVF pruners for sublinear scans; top-5 is
    TakeOrdered, never a global sort."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    lims = (
        emb.select(F.posexplode("v").alias("i", "x"))
        .groupBy("i")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("i", "mn", "mx"))
            ).alias("s")
        )
        .select(
            F.transform("s", lambda e: e["mn"]).alias("mns"),
            F.transform("s", lambda e: e["mx"]).alias("mxs"),
        )
    )
    quant = emb.crossJoin(F.broadcast(lims)).select(
        "vec_id",
        "mns",
        "mxs",
        F.expr(
            """
            transform(sequence(0, size(v) - 1), i ->
                CASE WHEN mxs[i] = mns[i] THEN CAST(0 AS TINYINT)
                     ELSE CAST(FLOOR((v[i] - mns[i]) * 255.0D
                                     / (mxs[i] - mns[i]) + 0.5D) - 128
                               AS TINYINT)
                END)
            """
        ).alias("q"),
    )
    recon = quant.select(
        "vec_id",
        F.expr(
            """
            transform(sequence(0, size(q) - 1), i ->
                CASE WHEN mxs[i] = mns[i] THEN mns[i]
                     ELSE (CAST(q[i] AS DOUBLE) + 128.0D)
                          * (mxs[i] - mns[i]) / 255.0D + mns[i]
                END)
            """
        ).alias("r"),
    )
    target = recon.where(F.col("vec_id") == 0).select(F.col("r").alias("qv"))
    return (
        recon.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(target))
        .select(
            "vec_id", F.round(cosine(F.col("r"), F.col("qv")), 4).alias("sim")
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(5)
    )


# ---------------------------------- persisted SQ8 index (VectorIndex)

def sq8_quantize(emb: DataFrame, mns: list[float], mxs: list[float]) -> DataFrame:
    """(vec_id, q: array<tinyint>) under the given per-dimension limits —
    the ONE quantization expression shared by `sq8_train` and the
    streamed additions of `VectorIndex.maintain`. SATURATING: components outside [mn, mx] clamp
    to the code range ends (standard scalar-quantizer behavior; without
    the clamp an out-of-range streamed vector would wrap through the
    tinyint cast into a silently wrong code). For the training corpus the
    clamp is an exact no-op — the limits ARE its min/max, and the
    boundary codes land on -128/127 before clamping."""
    return (
        emb.withColumn("_mns", F.lit(mns))
        .withColumn("_mxs", F.lit(mxs))
        .select(
            "vec_id",
            F.expr(
                """
                transform(sequence(0, size(v) - 1), i ->
                    CASE WHEN _mxs[i] = _mns[i] THEN CAST(0 AS TINYINT)
                         ELSE CAST(LEAST(127.0D, GREATEST(-128.0D,
                                   FLOOR((v[i] - _mns[i]) * 255.0D
                                         / (_mxs[i] - _mns[i]) + 0.5D) - 128))
                                   AS TINYINT)
                    END)
                """
            ).alias("q"),
        )
    )


def sq8_train(spark: SparkSession, sf_dir: str):
    """(rows, meta text) of a persisted SQ8 index: the quantized corpus
    as a flat (vec_id, q: array<tinyint>) table, the 4×-smaller artifact
    a 100 TB vector corpus ships instead of raw floats (flat like PQ:
    scoring is a scan, not a probe), and its per-dimension limits, the
    whole codebook at 2×DIM doubles: one posexplode + DIM-row aggregate."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    rows = sorted(
        (r["i"], r["mn"], r["mx"])
        for r in emb.select(F.posexplode("v").alias("i", "x"))
        .groupBy("i")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    mns = [float(mn) for _, mn, _ in rows]
    mxs = [float(mx) for _, _, mx in rows]
    return sq8_quantize(emb, mns, mxs), json.dumps({"mns": mns, "mxs": mxs})


def sq8_parse(text: str) -> tuple[list[float], list[float]]:
    """The (mns, mxs) limits an `sq8_train` meta text holds."""
    lims = json.loads(text)
    return [float(x) for x in lims["mns"]], [float(x) for x in lims["mxs"]]


def sq8_search(
    codes: DataFrame,
    limits: tuple[list[float], list[float]],
    query_v: list[float],
    k: int = 5,
) -> DataFrame:
    """Top-k cosine over a saved SQ8 index, scoring RECONSTRUCTED vectors.

    The raw query quantizes + reconstructs driver-side with the identical
    IEEE op order the corpus-side expression runs (floor-half-up to int8,
    then (q+128)·span/255+mn), so serving a corpus vector as the query
    reproduces the oracle-checked `ann_sq8_topk` exactly (pinned by
    tests/test_ivf_persistence.py). The plan is a scan + TakeOrdered —
    the query rides as a literal, no join."""
    import math

    mns, mxs = limits
    qr = []
    for x, mn, mx in zip(query_v, mns, mxs):
        if mx == mn:
            qr.append(mn)
        else:
            q = math.floor((x - mn) * 255.0 / (mx - mn) + 0.5) - 128
            qr.append((q + 128.0) * (mx - mn) / 255.0 + mn)
    recon = (
        codes.withColumn("_mns", F.lit(mns))
        .withColumn("_mxs", F.lit(mxs))
        .select(
            "vec_id",
            F.expr(
                """
                transform(sequence(0, size(q) - 1), i ->
                    CASE WHEN _mxs[i] = _mns[i] THEN _mns[i]
                         ELSE (CAST(q[i] AS DOUBLE) + 128.0D)
                              * (_mxs[i] - _mns[i]) / 255.0D + _mns[i]
                    END)
                """
            ).alias("r"),
        )
    )
    return (
        recon.select(
            "vec_id",
            F.round(cosine(F.col("r"), F.lit(qr)), 4).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(k)
    )
