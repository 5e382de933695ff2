"""Product-quantization ANN (PQ-ADC, FAISS-style) — the compressed-vector
scale path of the similarity-search family.

`ann_sq8_topk` compresses per-DIMENSION (64 B/vector at 1 byte/dim); PQ
compresses per-SUBSPACE: the 64-dim vector splits into M=8 contiguous
8-dim subvectors, each quantized to one of K=16 learned codes, so a corpus
vector is M log2(K) = 4 BYTES of codes plus a shared 8x16x8-double codebook.
At 100 TB this is the difference between scanning 25 TB of float32
embeddings and scanning ~1.5 TB of codes: the codebook (1024 doubles) is
broadcast state, the encode is one map-side expression, and query-time
scoring is Asymmetric Distance Computation — a per-query M x K lookup
table built once on the driver, then one `element_at` fold per corpus row
inside whole-stage codegen. No joins, no shuffle until the final top-k.

Training is fully deterministic so the DuckDB oracle mirrors it step for
step (same convention as `plans/ivf.py`):

- init: code j of subspace m := subvector m of the embedding with
  vec_id = j+1 (seed rows 1..K);
- one Lloyd pass per subspace: assign every (vector, subspace) pair to its
  nearest code (squared L2, ties -> lowest code), recompute each code as
  the per-dimension mean ROUNDED to 6 decimals (pins cross-engine float
  sum order);
- encode: re-assign with the refined codebook -> M small ints per vector.

The encoded corpus is memoized per (session, sf_dir) like the IVF
inverted file (`ivf._ivf_index`, both through `tables.memo`) — a PQ
index is built once and serves every query; at cluster scale it is
written out as a codes table.

Reference parity: the reference (kagetech/event-store) has no vector
search at all — this is part of the LLM-pipeline surface the brief adds
on top of SURVEY §2.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from event_store_spark.functions.vectors import as_double
from event_store_spark.plans.generations import GenerationPair, segment_wins
from event_store_spark.plans.registry import register
from event_store_spark.tables import load_table, memo

DIM = 64
M = 8  # subspaces
DSUB = DIM // M  # dims per subspace
KPQ = 16  # codes per subspace


def _sub_slices(v: Column) -> Column:
    """array of M subvectors: slice m covers dims [m*DSUB+1, (m+1)*DSUB]."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(M - 1)),
        lambda m: F.slice(v, m * DSUB + 1, DSUB),
    )


def _encode_expr(v: Column, codebook: list[list[tuple[int, list[float]]]]) -> Column:
    """codes array (one int per subspace) for a vector column.

    `codebook[m]` is a (code_id, centroid) list sorted by code id; ids ride
    a separate literal so subspaces whose Lloyd update dropped an empty
    code still index correctly. One nested-literal argmin per subspace —
    flat in M*K for Catalyst, exactly like `ivf._assign`. Ties break to
    the LOWEST code id: `array_position` returns the first index holding
    the min and rows are sorted by code id.
    """
    mat = F.lit([[list(c) for _, c in rows] for rows in codebook])
    ids = F.lit([[cid for cid, _ in rows] for rows in codebook])
    subs = _sub_slices(v)
    return F.zip_with(
        subs,
        F.zip_with(mat, ids, lambda rows, row_ids: F.struct(
            rows.alias("rows"), row_ids.alias("ids")
        )),
        lambda sv, cb: F.element_at(
            cb["ids"],
            F.array_position(
                F.transform(
                    cb["rows"],
                    lambda c: F.aggregate(
                        F.zip_with(sv, c, lambda a, b: (a - b) * (a - b)),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                ),
                F.array_min(
                    F.transform(
                        cb["rows"],
                        lambda c: F.aggregate(
                            F.zip_with(sv, c, lambda a, b: (a - b) * (a - b)),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        ),
                    )
                ),
            ).cast("int"),
        ),
    )


def _train_update(encoded: DataFrame) -> list[list[tuple[int, list[float]]]]:
    """Lloyd update: per (subspace, code) per-dimension mean, 6 dp.

    One explode + one hash aggregation -> at most M*KPQ rows to the
    driver (128 here); codes with no members disappear, mirroring the
    oracle's inner-join semantics.
    """
    pairs = encoded.select(
        F.posexplode(
            F.zip_with(
                _sub_slices(F.col("v")),
                F.col("codes"),
                lambda sv, c: F.struct(sv.alias("sv"), c.alias("code")),
            )
        ).alias("m", "p")
    ).select("m", F.col("p.code").alias("code"), F.col("p.sv").alias("sv"))
    rows = (
        pairs.groupBy("m", "code")
        .agg(*[F.round(F.avg(F.col("sv")[i]), 6).alias(f"c{i}") for i in range(DSUB)])
        .collect()
    )
    book: list[list[tuple[int, list[float]]]] = [[] for _ in range(M)]
    for r in rows:
        book[r["m"]].append((r["code"], [r[f"c{i}"] for i in range(DSUB)]))
    for m in range(M):
        book[m].sort()
    return book


def _pq_index(spark: SparkSession, sf_dir: str):
    """(codebook, encoded corpus DataFrame) — memoized per (session, dir)."""

    def build():
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", as_double("embedding").alias("v")
        )
        seed_rows = sorted(
            (r["vec_id"], list(r["v"]))
            for r in emb.where(F.col("vec_id").between(1, KPQ)).collect()
        )
        init = [
            [
                (vid - 1, vec[m * DSUB : (m + 1) * DSUB])
                for vid, vec in seed_rows
            ]
            for m in range(M)
        ]
        a0 = emb.withColumn("codes", _encode_expr(F.col("v"), init))
        book = _train_update(a0)
        encoded = emb.withColumn("codes", _encode_expr(F.col("v"), book)).cache()
        return book, encoded

    return memo(spark, (_pq_index, sf_dir), build)


def _adc_table(book, qvec: list[float]) -> list[list[float]]:
    """Per-query ADC lookup: T[m][idx] = ||q_sub[m] - codebook[m][idx]||^2.

    Plain Python float64 in index order — the same IEEE double left fold
    the engines run, so the literal table is bit-identical with what
    either engine would compute in-plan. O(M*K) work on the driver, once
    per query — this IS the ADC trick: corpus-side scoring collapses to M
    table lookups per row.
    """
    out = []
    for m in range(M):
        q = qvec[m * DSUB : (m + 1) * DSUB]
        row = []
        for _, c in book[m]:
            d = 0.0
            for i in range(DSUB):
                d += (q[i] - c[i]) * (q[i] - c[i])
            row.append(d)
        out.append(row)
    return out


def _adc_expr(book, table: Column) -> Column:
    """Fixed-m-order fold of M ADC-table lookups: the per-row score.

    Code ids may be sparse after the Lloyd update (empty codes vanish), so
    each code is looked up by its POSITION in the per-subspace sorted id
    list, which is the ADC table's row index.
    """
    ids_lit = F.lit([[cid for cid, _ in rows] for rows in book])
    return F.aggregate(
        F.zip_with(
            F.zip_with(
                F.col("codes"),
                ids_lit,
                lambda c, row_ids: F.array_position(row_ids, c).cast("int"),
            ),
            table,
            lambda pos, row: F.element_at(row, pos),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


#: Shared training CTE chain (DuckDB mirror of `_pq_index`): subvectors ->
#: seed-row init -> one Lloyd assign/update -> final encode. Ends with the
#: `enc` (vec_id, m, code) and `c1` (m, code, c) CTEs.
PQ_TRAIN_CTE = f"""e AS (SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
    sub AS (SELECT vec_id, t.m,
                   list_transform(range(1, {DSUB} + 1),
                                  i -> v[m * {DSUB} + i]) AS sv
            FROM e, range(0, {M}) t(m)),
    c0 AS (SELECT m, vec_id - 1 AS code, sv AS c FROM sub
           WHERE vec_id BETWEEN 1 AND {KPQ}),
    a0 AS (SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, c.code, ROW_NUMBER() OVER (
            PARTITION BY s.vec_id, s.m
            ORDER BY list_sum(list_transform(range(1, {DSUB} + 1),
                i -> (s.sv[i] - c.c[i]) * (s.sv[i] - c.c[i]))), c.code) AS rn
        FROM sub s JOIN c0 c USING (m)) WHERE rn = 1),
    c1 AS (SELECT m, code, list(mu ORDER BY i) AS c FROM (
        SELECT a.m, a.code, t.i, ROUND(AVG(s.sv[t.i]), 6) AS mu
        FROM a0 a JOIN sub s USING (vec_id, m), range(1, {DSUB} + 1) t(i)
        GROUP BY a.m, a.code, t.i) GROUP BY m, code),
    enc AS (SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, c.code, ROW_NUMBER() OVER (
            PARTITION BY s.vec_id, s.m
            ORDER BY list_sum(list_transform(range(1, {DSUB} + 1),
                i -> (s.sv[i] - c.c[i]) * (s.sv[i] - c.c[i]))), c.code) AS rn
        FROM sub s JOIN c1 c USING (m)) WHERE rn = 1)"""


@register(
    "ann_pq_topk",
    oracle=f"""
    WITH {PQ_TRAIN_CTE},
    qt AS (SELECT c.m, c.code,
                  list_sum(list_transform(range(1, {DSUB} + 1),
                      i -> (q.sv[i] - c.c[i]) * (q.sv[i] - c.c[i]))) AS d
           FROM c1 c JOIN sub q USING (m) WHERE q.vec_id = 0),
    scored AS (SELECT x.vec_id, list_sum(list(qt.d ORDER BY qt.m)) AS adist
               FROM enc x JOIN qt USING (m, code)
               WHERE x.vec_id <> 0
               GROUP BY x.vec_id)
    SELECT vec_id, ROUND(adist, 4) AS adist
    FROM scored ORDER BY adist, vec_id LIMIT 5
    """,
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-5 for vec_id=0: nearest corpus vectors by asymmetric
    (query-to-code) squared L2 over the 4-byte PQ codes.

    Plan shape: one map-side expression over the memoized encoded corpus
    — `adist` is a fixed-order fold of M `element_at` lookups into the
    broadcast-literal ADC table — then TakeOrderedAndProject for the
    top-5. Zero joins, zero shuffles before the top-k; the only non-local
    cost is the O(k) result collection, which is why this is THE scan
    shape for 100 TB corpora (FAISS IVFADC's flat-scan half).
    """
    book, encoded = _pq_index(spark, sf_dir)
    qvec = list(
        encoded.where(F.col("vec_id") == 0).select("v").head()["v"]
    )
    adist = _adc_expr(book, F.lit(_adc_table(book, qvec)))
    return (
        encoded.where(F.col("vec_id") != 0)
        .select("vec_id", F.round(adist, 4).alias("adist"))
        .orderBy("adist", "vec_id")
        .limit(5)
    )


@register(
    "ann_ivfpq_topk",
    oracle=f"""
    WITH {PQ_TRAIN_CTE},
    ic0 AS (SELECT vec_id - 1 AS cell, v AS c FROM e
            WHERE vec_id BETWEEN 1 AND 8),
    ia0 AS (SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell, ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY list_sum(list_transform(range(1, {DIM} + 1),
                i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))), c.cell) AS rn
        FROM e, ic0 c) WHERE rn = 1),
    ic1 AS (SELECT cell, list(mu ORDER BY i) AS c FROM (
        SELECT a.cell, t.i, ROUND(AVG(e.v[t.i]), 6) AS mu
        FROM ia0 a JOIN e USING (vec_id), range(1, {DIM} + 1) t(i)
        GROUP BY a.cell, t.i) GROUP BY cell),
    ia1 AS (SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell, ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY list_sum(list_transform(range(1, {DIM} + 1),
                i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))), c.cell) AS rn
        FROM e, ic1 c) WHERE rn = 1),
    qcell AS (SELECT cell FROM ia1 WHERE vec_id = 0),
    qt AS (SELECT c.m, c.code,
                  list_sum(list_transform(range(1, {DSUB} + 1),
                      i -> (q.sv[i] - c.c[i]) * (q.sv[i] - c.c[i]))) AS d
           FROM c1 c JOIN sub q USING (m) WHERE q.vec_id = 0),
    scored AS (SELECT x.vec_id, list_sum(list(qt.d ORDER BY qt.m)) AS adist
               FROM enc x
               JOIN ia1 USING (vec_id)
               JOIN qcell USING (cell)
               JOIN qt USING (m, code)
               WHERE x.vec_id <> 0
               GROUP BY x.vec_id)
    SELECT vec_id, ROUND(adist, 4) AS adist
    FROM scored ORDER BY adist, vec_id LIMIT 5
    """,
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composition (FAISS IVFADC): prune to the query's learned
    IVF cell, then rank the cell's candidates by PQ-ADC distance.

    Reuses BOTH memoized indexes — `ivf._ivf_index('full')` for the cell
    assignment and `_pq_index` for the codes — joined on vec_id. At scale
    the two are one table (codes stored alongside the cell id, partitioned
    by cell), so the probe reads only nprobe/k of the code table; here the
    cell filter rides a broadcast of the O(1) query-cell row and the code
    join is a cell-pruned equi-join.
    """
    from event_store_spark.plans.ivf import _ivf_index

    _, assigned = _ivf_index(spark, sf_dir, "full")
    book, encoded = _pq_index(spark, sf_dir)
    qvec = list(encoded.where(F.col("vec_id") == 0).select("v").head()["v"])
    adist = _adc_expr(book, F.lit(_adc_table(book, qvec)))
    qcell = assigned.where(F.col("vec_id") == 0).select(
        F.col("cell").alias("qcell")
    )
    return (
        encoded.join(assigned.select("vec_id", "cell"), "vec_id")
        .join(F.broadcast(qcell), F.col("cell") == F.col("qcell"))
        .where(F.col("vec_id") != 0)
        .select("vec_id", F.round(adist, 4).alias("adist"))
        .orderBy("adist", "vec_id")
        .limit(5)
    )


# ------------------------------------------------- index persistence API

def save_pq_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Persist the PQ index: codebook.json (M×K×DSUB doubles + the sparse
    code-id lists — driver metadata) and the encoded corpus as a flat
    (vec_id, codes) parquet table, the ~4-byte-per-vector artifact that
    replaces the raw embeddings on the serving path. No partitioning:
    ADC serving is a FLAT SCAN by design (every row is scored against
    the per-query lookup table), so the layout optimizes for sequential
    columnar reads, not pruning — the opposite trade from
    `ivf.save_ivf_index`, matching how FAISS stores Flat-PQ vs IVF
    lists. Codebook written last as the completeness marker."""
    import json

    book, encoded = _pq_index(spark, sf_dir)
    # A retrain over an existing index publishes BOTH halves (codes AND the
    # codebook that encoded them) as one generation behind one pointer
    # flip — ADC codes are meaningless under the wrong codebook, so the two
    # artifacts must never be observable out of step (the IVF pair
    # discipline, where the stake is merely wrong pruning; here it is
    # wrong distances).
    _generations(path).publish(
        spark,
        lambda out: encoded.select("vec_id", "codes")
        .write.mode("overwrite")
        .parquet(out),
        meta=json.dumps([[[cid, c] for cid, c in rows] for rows in book]),
    )


def _generations(path: str) -> GenerationPair:
    return GenerationPair(path, "codes", "codebook.json", pointer="CODES")


def _live_names(path: str) -> tuple[str, str]:
    """The LIVE (codes dir, codebook file) pair: the `CODES` pointer names
    both (generations `codes-<n> codebook-<n>.json`) so the pair flips
    atomically; a pointerless layout is the original (codes,
    codebook.json)."""
    return _generations(path).live()


def _codes_dirname(path: str) -> str:
    return _live_names(path)[0]


def load_pq_index(spark: SparkSession, path: str):
    """(codebook, codes DataFrame) from a saved index — the serving-side
    state: 1 KiB-scale codebook on the driver, lazy codes scan."""
    import json
    import os

    codes_dir, codebook_file = _live_names(path)
    with open(os.path.join(path, codebook_file)) as fh:
        book = [
            [(int(cid), [float(x) for x in c]) for cid, c in rows]
            for rows in json.load(fh)
        ]
    return book, spark.read.parquet(os.path.join(path, codes_dir))


def compact_pq_index(spark: SparkSession, path: str, additions_path: str) -> None:
    """Fold a `pq_encode_stream` additions segment into the base codes
    table WITHOUT re-encoding — the codebook is untouched, so every code
    stays valid; the fold is one union + flat rewrite. Same generation
    flip as `ivf.compact_ivf_index`: the N-1 generation survives for
    in-flight readers, and re-folding the same segment is idempotent
    (full rewrite, not append). When a vec_id exists in BOTH base and
    segment with different codes (a re-encoded vector), the SEGMENT row
    wins explicitly, so the stale base code can never be resurrected."""
    import os

    base = spark.read.parquet(os.path.join(path, _codes_dirname(path)))
    merged = segment_wins(base, spark.read.parquet(additions_path), "vec_id")
    # compaction never retrains: the pointer keeps naming the SAME
    # codebook file, only the codes generation advances
    _generations(path).publish(
        spark, lambda out: merged.write.mode("overwrite").parquet(out), meta=None
    )


def pq_search(
    codes: DataFrame,
    book: list,
    query_v: list[float],
    k: int = 5,
) -> DataFrame:
    """Top-k by ADC squared L2 over a saved/loaded codes table.

    The per-query M×K lookup table is built driver-side in index order
    (bit-identical with the in-plan fold — `_adc_table`) and rides as a
    literal; the executed plan is ONE whole-stage-codegen projection over
    the codes scan + TakeOrdered. No join, no shuffle, no raw vectors
    read — the 100 TB serving shape. Equality with the oracle-checked
    `ann_pq_topk` is pinned by tests/test_ivf_persistence.py."""
    adist = _adc_expr(book, F.lit(_adc_table(book, [float(x) for x in query_v])))
    return (
        codes.select("vec_id", F.round(adist, 4).alias("adist"))
        .orderBy("adist", "vec_id")
        .limit(k)
    )
