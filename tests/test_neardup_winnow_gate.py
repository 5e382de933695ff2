"""Streaming winnow near-dup gate: exact sequential semantics, EOS, and
the real writeStream path.

Exact parity is pinned by driving the gate's foreachBatch function
directly with a known batch order (what Structured Streaming does, with
delivery order made explicit) against an independent pure-Python
sequential reference built on the property-tested fingerprint selector.
The real `readStream`→`writeStream` path is then exercised end-to-end
with availableNow, checking the order-independent invariants plus
checkpoint-replay and crash-redelivery idempotence.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from event_store_spark.plans.dedup_index import (
    WINNOW_MAX_FP_DOCS,
    DedupIndex,
)
from event_store_spark.plans.generations import write_pointer
from event_store_spark.plans.pipeline11 import MAX_FP_DOCS, MIN_SHARED
from event_store_spark.streaming.lineage import checkpoint_lineage_id
from event_store_spark.streaming.neardup_winnow import WinnowDedupGate
from event_store_spark.tables import load_table
from tests.test_winnowing_properties import select_doubled

SF = "/root/testdata/sf0.001"
BASE_SRC = ("src2", "src3")  # arriving slice; the rest is the index corpus


@pytest.fixture(scope="module")
def corpus(spark):
    docs = load_table(spark, SF, "documents").select(
        "doc_id", "source", "text"
    )
    return (
        docs.where(~F.col("source").isin(*BASE_SRC)),
        docs.where(F.col("source").isin(*BASE_SRC)).orderBy("doc_id"),
    )


def _py_fps(rows):
    """doc_id -> fingerprint set via the property-tested reference."""
    return {
        r["doc_id"]: select_doubled(r["text"].split()) for r in rows
    }


def _reference_admitted(index_rows, arriving_rows, batch_cuts):
    """Sequential fold of the documented admission rule: index fps
    stoplisted at build; admitted batch fps join unfiltered (compact
    re-enforces later). Within a batch, index-duplicates drop first and
    condemn nobody; the remaining (live) docs fold keep-first in
    ascending id against the SURVIVORS so far, with per-pair ≥
    MIN_SHARED counting over batch-stoplisted fingerprints (a fp in
    more than MAX_FP_DOCS live batchmates witnesses no pair)."""
    from collections import Counter

    idx_fps = _py_fps(index_rows)
    occ = Counter(f for fps in idx_fps.values() for f in fps)
    indexed = [
        {f for f in fps if occ[f] <= WINNOW_MAX_FP_DOCS}
        for fps in idx_fps.values()
    ]
    arr_fps = _py_fps(arriving_rows)
    admitted = []
    for batch in batch_cuts:
        live = [
            d
            for d in batch  # ascending ids within the batch
            if not any(
                len(arr_fps[d] & other) >= MIN_SHARED for other in indexed
            )
        ]
        bocc = Counter(f for d in live for f in arr_fps[d])
        flt = {
            d: {f for f in arr_fps[d] if bocc[f] <= MAX_FP_DOCS}
            for d in live
        }
        survivors = []
        for d in live:
            if not any(
                len(flt[d] & flt[s]) >= MIN_SHARED for s in survivors
            ):
                survivors.append(d)
        for s in survivors:
            indexed.append(arr_fps[s])
            admitted.append(s)
    return sorted(admitted)


def test_gate_matches_sequential_reference_and_redelivery(
    spark, corpus, tmp_path
):
    index_docs, arriving = corpus
    idx = DedupIndex.build(spark, index_docs, str(tmp_path / "ix"), "winnow")
    gate = WinnowDedupGate(
        idx, str(tmp_path / "out"), str(tmp_path / "ck")
    )
    fn = gate.foreach_batch()

    rows = arriving.collect()
    ids = [r["doc_id"] for r in rows]
    cuts = [ids[:20], ids[20:35], ids[35:]]
    for bid, cut in enumerate(cuts):
        fn(arriving.where(F.col("doc_id").isin(cut)), bid)

    got = sorted(
        r["doc_id"]
        for r in spark.read.parquet(
            str(tmp_path / "out" / "batch-*")
        ).collect()
    )
    want = _reference_admitted(index_docs.collect(), rows, cuts)
    assert got == want
    assert 0 < len(got) < len(ids)  # the gate really dropped something

    # ledger short-circuit: redelivering an old batch id is a no-op
    before = sorted(os.listdir(tmp_path / "ix"))
    fn(arriving.where(F.col("doc_id").isin(cuts[0])), 0)
    assert sorted(os.listdir(tmp_path / "ix")) == before

    # crash-redelivery of the LAST batch (ledger rolled back): outputs
    # and signature rows are rewritten byte-idempotently, not duplicated
    n_sig = idx.signatures().count()
    write_pointer(
        gate.ledger, f"{checkpoint_lineage_id(str(tmp_path / 'ck'))} 1"
    )
    fn(arriving.where(F.col("doc_id").isin(cuts[2])), 2)
    assert idx.signatures().count() == n_sig
    assert sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out" / "batch-*")).collect()
    ) == want

    # compaction folds the batch segments and preserves every verdict:
    # a copy of an admitted doc probes as its duplicate afterwards
    idx.compact()
    assert not os.listdir(tmp_path / "ix" / "segments")
    copy = arriving.where(F.col("doc_id") == got[0]).withColumn(
        "doc_id", F.lit(10_000_000).cast("bigint")
    )
    hits = idx.probe(copy).collect()
    assert any(r["match_doc_id"] == got[0] for r in hits)


def test_gate_pair_threshold_chains_and_empty_batch(spark, tmp_path):
    """Crafted-doc pins for the admission rule's fine structure:

    - per-PAIR MIN_SHARED counting: D shares exactly 1 fingerprint with
      each of two kept lower-id batchmates (E, G) — two weak brushes
      must NOT add up to a drop;
    - index-duplicates condemn nobody: A is an index-dup of X, C
      near-dups only A → C is admitted;
    - within-batch chain resolution: P kept, Q dups P (dropped), R
      near-dups only Q → R is admitted;
    - an all-duplicates batch produces an EMPTY signature frame whose
      append must be skipped (a zero-row partitioned write has no
      inferable schema) — the gate keeps working afterwards.
    """
    from tests.test_winnowing_properties import select_doubled as sel

    X = [f"x{i}" for i in range(30)]
    E = [f"e{i}" for i in range(8)] + [f"ze{i}" for i in range(8)]
    G = [f"g{i}" for i in range(8)] + [f"zg{i}" for i in range(8)]
    D = (
        [f"ze{i}" for i in range(8)]
        + [f"d{i}" for i in range(4)]
        + [f"zg{i}" for i in range(8)]
    )
    A = X[5:25] + [f"a{i}" for i in range(20)]
    C = [f"a{i}" for i in range(20)] + [f"c{i}" for i in range(8)]
    P = [f"p{i}" for i in range(20)]
    Q = P + [f"q{i}" for i in range(20)]
    R = [f"q{i}" for i in range(20)] + [f"r{i}" for i in range(8)]

    f = {n: sel(t) for n, t in
         dict(X=X, E=E, G=G, D=D, A=A, C=C, P=P, Q=Q, R=R).items()}
    # scenario preconditions (MIN_SHARED == 2)
    assert MIN_SHARED == 2
    assert len(f["D"] & f["E"]) == 1 and len(f["D"] & f["G"]) == 1
    assert len(f["A"] & f["X"]) >= 2
    assert len(f["C"] & f["A"]) >= 2 and not (f["C"] & f["X"])
    assert len(f["Q"] & f["P"]) >= 2
    assert len(f["R"] & f["Q"]) >= 2 and not (f["R"] & f["P"])

    def df(rows):
        return spark.createDataFrame(
            [(i, "srcT", " ".join(t)) for i, t in rows],
            "doc_id bigint, source string, text string",
        )

    index_docs = df([(100, X)])
    batch1 = [(1, E), (2, G), (3, D), (4, A), (5, C), (6, P), (7, Q), (8, R)]
    idx = DedupIndex.build(spark, index_docs, str(tmp_path / "ix"), "winnow")
    gate = WinnowDedupGate(
        idx, str(tmp_path / "out"), str(tmp_path / "ck")
    )
    fn = gate.foreach_batch()
    fn(df(batch1), 0)
    got = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out" / "batch-*")).collect()
    )
    assert got == [1, 2, 3, 5, 6, 8]  # A(4) index-dup, Q(7) dups P
    assert got == _reference_admitted(
        index_docs.collect(),
        df(batch1).collect(),
        [[i for i, _ in batch1]],
    )

    # all-duplicates batch: every doc copies an admitted one → empty
    # admit, skipped signature append, gate not wedged
    n_sig = idx.signatures().count()
    fn(df([(11, E), (12, P)]), 1)
    assert sorted(os.listdir(tmp_path / "ix" / "segments")) == [
        "_SEGMENT.0", "b0"
    ]
    assert idx.signatures().count() == n_sig
    assert (
        spark.read.parquet(str(tmp_path / "out" / "batch-1")).count() == 0
    )

    # the gate still probes and admits after the empty append
    fresh = [(13, [f"v{i}" for i in range(16)]), (14, E)]
    fn(df(fresh), 2)
    got3 = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out" / "batch-2")).collect()
    )
    assert got3 == [13]


def test_gate_through_real_stream(spark, corpus, tmp_path):
    index_docs, arriving = corpus
    idx = DedupIndex.build(spark, index_docs, str(tmp_path / "ix"), "winnow")
    gate = WinnowDedupGate(
        idx, str(tmp_path / "out"), str(tmp_path / "ck")
    )
    src = str(tmp_path / "src")
    for i, lo in enumerate(range(0, 50, 17)):
        ids = [r["doc_id"] for r in arriving.collect()][lo : lo + 17]
        arriving.where(F.col("doc_id").isin(ids)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, f"part{i}"))

    def run():
        q = gate.start(
            spark.readStream.schema(arriving.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/part*")
        )
        q.awaitTermination(240)

    run()
    admitted = spark.read.parquet(str(tmp_path / "out" / "batch-*"))
    got = sorted(r["doc_id"] for r in admitted.collect())
    assert got and len(got) < 50
    assert len(got) == len(set(got))  # no doc admitted twice

    # every admitted doc, probed as a fresh copy, is now caught; and a
    # checkpoint replay of the same source changes nothing
    copy = admitted.limit(1).withColumn(
        "doc_id", F.lit(10_000_001).cast("bigint")
    )
    assert idx.probe(copy).count() >= 1
    before = got
    run()
    assert sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out" / "batch-*")).collect()
    ) == before
