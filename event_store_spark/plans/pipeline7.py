"""BPE tokenizer training, oracle-checked (round-5 extension).

`bpe_train_merges` runs THREE full merge rounds of byte-pair-encoding
training fully in-plan (no driver loop, one Spark action): each round
counts adjacent token pairs, selects the most frequent (count desc,
then (t1, t2) ascending — a total, engine-independent order), and
applies the merge corpus-wide with a Catalyst `aggregate` fold. The
DuckDB oracle replays the identical algorithm with the string-replace
formulation: tokens wrapped in chr(2) sentinels joined by spaces, a
merge = one greedy left-to-right `replace` of '§t1§ §t2§' with
'§t1t2§' — `replace`'s non-overlapping greedy scan is exactly the fold's
semantics (equivalence pinned case-by-case in tests/test_bpe.py).

The arbitrary-k production loop (driver-side argmax, localCheckpoint
lineage control) lives in `operators/bpe.py`; this query is its 3-round
unrolled twin so the merge semantics themselves sit under the driver's
hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_store_spark.operators.bpe import adjacent_pairs, merge_pair
from event_store_spark.plans.finalsort import catalog_sort
from event_store_spark.plans.registry import register
from event_store_spark.tables import load_table, memo

BPE_ROUNDS = 3

# Shared 3-round BPE build, memoized per session and sf_dir (`tables.memo`,
# the MinHash index memo's cost model): `bpe_train_merges` (the merge
# table) and `bpe_encoded_stats` (its compression effect) consume the SAME
# chain, and production trains a tokenizer once and ships it, so sharing
# one build is the honest accounting. The build is deterministic (count
# desc, (t1, t2) asc tie break), so reuse cannot change results. Each
# round's folded corpus is localCheckpoint()ed, which makes the build
# LINEAR in rounds — without it, round r's argmax subplan replays folds
# 1..r-1, the O(rounds²) recompute the round-4 verdict flagged on
# dedup_clusters.


def _bpe_build(
    spark: SparkSession, sf_dir: str
) -> tuple[list[DataFrame], DataFrame]:
    """Run BPE_ROUNDS merge rounds over the documents corpus once per
    (session, sf_dir). Returns ``(steps, cur)``: `steps[i]` is the
    one-row (step, t1, t2, cnt) argmax of round i+1, and `cur` is the
    fully-merged corpus carrying (doc_id, lang, _before, w) with
    `_before` = the pre-merge token count.

    Per round: pair explode → hash agg (map-side partials) →
    TakeOrdered(1) argmax riding back as a broadcast one-row relation →
    corpus-wide merge fold, checkpointed. No driver collect anywhere —
    the argmax stays a DataFrame end to end."""
    from event_store_spark.functions.text import whitespace_tokens

    def build():
        docs = load_table(spark, sf_dir, "documents")
        cur = docs.select(
            "doc_id", "lang", whitespace_tokens("text").alias("w")
        ).withColumn("_before", F.size("w"))
        steps: list[DataFrame] = []
        for i in range(1, BPE_ROUNDS + 1):
            pairs = cur.select(F.explode(adjacent_pairs("w")).alias("p")).select(
                "p.t1", "p.t2"
            )
            m = (
                pairs.groupBy("t1", "t2")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .orderBy(F.col("cnt").desc(), "t1", "t2")
                .limit(1)
                .select(
                    F.col("t1").alias("_mt1"),
                    F.col("t2").alias("_mt2"),
                    F.col("cnt").alias("_mc"),
                )
                .localCheckpoint(eager=True)
            )
            steps.append(
                m.select(
                    F.lit(i).alias("step"),
                    F.col("_mt1").alias("t1"),
                    F.col("_mt2").alias("t2"),
                    F.col("_mc").alias("cnt"),
                )
            )
            cur = (
                cur.crossJoin(F.broadcast(m.drop("_mc")))
                .select(
                    "doc_id",
                    "lang",
                    "_before",
                    merge_pair(F.col("w"), F.col("_mt1"), F.col("_mt2")).alias("w"),
                )
                .localCheckpoint(eager=True)
            )
        return steps, cur

    return memo(spark, (_bpe_build, sf_dir), build)


def _round_sql(i: int) -> str:
    """CTEs for merge round i: pair counts over s{i-1}, argmax m{i},
    merged corpus s{i}."""
    return f"""
    w{i} AS (SELECT doc_id, string_split(s, ' ') AS w FROM s{i - 1}),
    p{i} AS (SELECT replace(w[j], chr(2), '') AS t1,
                    replace(w[j + 1], chr(2), '') AS t2,
                    COUNT(*) AS cnt
             FROM w{i}, UNNEST(generate_series(1, len(w) - 1)) AS g(j)
             GROUP BY t1, t2),
    m{i} AS (SELECT t1, t2, cnt FROM p{i}
             ORDER BY cnt DESC, t1, t2 LIMIT 1),
    s{i} AS (SELECT doc_id,
                    replace(s,
                            chr(2) || (SELECT t1 FROM m{i}) || chr(2) || ' ' ||
                            chr(2) || (SELECT t2 FROM m{i}) || chr(2),
                            chr(2) || (SELECT t1 FROM m{i}) ||
                            (SELECT t2 FROM m{i}) || chr(2)) AS s
             FROM s{i - 1})"""


_BPE_ORACLE = (
    r"""
    WITH s0 AS (SELECT doc_id,
                       chr(2) || array_to_string(
                           string_split_regex(trim(text), '\s+'),
                           chr(2) || ' ' || chr(2)) || chr(2) AS s
                FROM documents),"""
    + ",".join(_round_sql(i) for i in range(1, BPE_ROUNDS + 1))
    + "\n    "
    + "\nUNION ALL\n".join(
        f"SELECT {i} AS step, t1, t2, cnt FROM m{i}"
        for i in range(1, BPE_ROUNDS + 1)
    )
    + "\n    ORDER BY step"
)


@register("bpe_train_merges", oracle=_BPE_ORACLE)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First three learned BPE merges over the documents corpus —
    (step, t1, t2, count-at-selection).

    Plan per round (in `_bpe_build`, shared with `bpe_encoded_stats`):
    pair explode → hash agg (map-side partials) → TakeOrdered(1) argmax
    riding back as a broadcast one-row relation → corpus-wide merge fold
    (map-only, codegen), checkpointed per round so the build is linear
    in rounds. No driver collect anywhere (at arbitrary k use
    `operators.bpe.bpe_train`, the O(1)-driver-state loop).
    """
    steps, _ = _bpe_build(spark, sf_dir)
    out = steps[0]
    for s in steps[1:]:
        out = out.unionAll(s)
    return catalog_sort(out, "step")


_ENCODE_ORACLE = (
    r"""
    WITH s0 AS (SELECT doc_id,
                       chr(2) || array_to_string(
                           string_split_regex(trim(text), '\s+'),
                           chr(2) || ' ' || chr(2)) || chr(2) AS s
                FROM documents),"""
    + ",".join(_round_sql(i) for i in range(1, BPE_ROUNDS + 1))
    + f"""
    SELECT d.lang,
           CAST(SUM(len(string_split_regex(trim(d.text), '\\s+')))
                AS BIGINT) AS tokens_before,
           CAST(SUM(len(string_split(s{BPE_ROUNDS}.s, ' ')))
                AS BIGINT) AS tokens_after
    FROM documents d JOIN s{BPE_ROUNDS} ON d.doc_id = s{BPE_ROUNDS}.doc_id
    GROUP BY d.lang ORDER BY d.lang"""
)


@register("bpe_encoded_stats", oracle=_ENCODE_ORACLE)
def bpe_encoded_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-inference effect: per-lang corpus token counts before and
    after applying the 3 learned merges — the compression measurement that
    decides whether a merge table is worth shipping.

    Shares `_bpe_build`'s checkpointed round chain with
    `bpe_train_merges` (the merge table is data-dependent, so encode =
    derive merges + apply — done once per session); this query is then
    one hash agg by lang over the merged corpus. Token counts are exact
    integers — no banding needed."""
    _, cur = _bpe_build(spark, sf_dir)
    return (
        cur.groupBy("lang")
        .agg(
            F.sum("_before").alias("tokens_before"),
            F.sum(F.size("w")).alias("tokens_after"),
        )
        .transform(lambda d: catalog_sort(d, "lang"))
    )
