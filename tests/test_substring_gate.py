"""Streaming exact-substring gate: index probe, survivor semantics, EOS.

The gate's verdicts are pinned against an independent O(n²) pure-Python
longest-common-token-run reference (dynamic programming over the token
lists — no grams, no hashing), exactly the sequential fold a
one-doc-per-batch stream would compute. Then the exactly-once
discipline: crash-redelivery of a batch id rewrites, never duplicates.
"""

from __future__ import annotations

import os

import pytest

from event_store_spark.plans.dedup_index import DedupIndex
from event_store_spark.plans.pipeline12 import MIN_SUB_LEN
from event_store_spark.streaming.substring_gate import SubstringDedupGate


def _w(prefix, n):
    return [f"{prefix}{i}" for i in range(n)]


def _lcr(a, b):
    """Longest common contiguous token run between two token lists."""
    prev = [0] * (len(b) + 1)
    best = 0
    for i in range(1, len(a) + 1):
        cur = [0] * (len(b) + 1)
        for j in range(1, len(b) + 1):
            if a[i - 1] == b[j - 1]:
                cur[j] = prev[j - 1] + 1
                best = max(best, cur[j])
        prev = cur
    return best


def _ref_admitted(index_toks, batches):
    """Sequential reference: per batch, index-duplicates drop first and
    condemn nobody; the rest fold keep-first in ascending doc_id against
    this batch's SURVIVORS; admitted docs join the index."""
    idx = dict(index_toks)
    out = []
    for batch in batches:
        live = [
            (d, t) for d, t in batch
            if not any(_lcr(t, it) >= MIN_SUB_LEN for it in idx.values())
        ]
        surv = []
        for d, t in sorted(live):
            if not any(_lcr(t, st) >= MIN_SUB_LEN for _s, st in surv):
                surv.append((d, t))
        out.append(sorted(d for d, _ in surv))
        idx.update(surv)
    return out


@pytest.fixture()
def docs(spark):
    S1 = _w("s", 20)      # indexed span
    S2 = _w("t", 20)      # batch-internal span
    S3 = _w("v", 16)      # chain span (only E and F share it)
    corpus = {
        1: S1 + _w("a", 10),
        2: _w("b", 30),
    }
    arriving = {
        10: _w("c", 6) + S1 + _w("c2", 4),   # dup of indexed 1
        11: S2 + _w("d", 10),                # survivor, seeds S2
        12: _w("e", 5) + S2 + S3,            # dups survivor 11 → dropped
        13: S3 + _w("f", 14),                # shares S3 only with DROPPED 12
        20: _w("g", 4) + S2 + _w("g2", 6),   # batch 2: dups ADMITTED 11
        21: _w("h", 30),                     # clean
    }
    return corpus, arriving


def _df(spark, d):
    return spark.createDataFrame(
        [(k, " ".join(v)) for k, v in sorted(d.items())],
        "doc_id bigint, text string",
    )


def test_gate_matches_sequential_reference_and_redelivery(
    spark, docs, tmp_path
):
    corpus, arriving = docs
    idx_path = str(tmp_path / "subidx")
    index = DedupIndex.build(spark, _df(spark, corpus), idx_path, "substring")

    gate = SubstringDedupGate(
        index, str(tmp_path / "out"), str(tmp_path / "ck")
    )
    process = gate.foreach_batch()
    b1 = {k: v for k, v in arriving.items() if k < 20}
    b2 = {k: v for k, v in arriving.items() if k >= 20}
    expected = _ref_admitted(
        list(corpus.items()), [sorted(b1.items()), sorted(b2.items())]
    )
    assert expected == [[11, 13], [21]]  # the scenario is discriminative

    process(_df(spark, b1), 0)
    landed1 = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out" / "batch-0")).collect()
    )
    assert landed1 == expected[0]

    # crash-redelivery of batch 0: same bytes, no duplicate signatures
    process(_df(spark, b1), 0)
    assert sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out" / "batch-0")).collect()
    ) == expected[0]
    assert sorted(os.listdir(os.path.join(idx_path, "segments"))) == [
        "_SEGMENT.0", "b0"
    ]

    # batch 2 probes base + admitted segment: 20 dups the ADMITTED 11
    process(_df(spark, b2), 1)
    landed2 = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out" / "batch-1")).collect()
    )
    assert landed2 == expected[1]

    # compaction folds segments and the probe still catches everything
    index.compact()
    again = index.probe(_df(spark, {30: arriving[11]}))
    assert [
        (r["new_doc_id"], r["match_doc_id"]) for r in again.collect()
    ] == [(30, 11), (30, 20)] or [
        (r["new_doc_id"], r["match_doc_id"]) for r in again.collect()
    ] == [(30, 11)]


def test_probe_reports_span_length(spark, docs, tmp_path):
    corpus, _ = docs
    index = DedupIndex.build(
        spark, _df(spark, corpus), str(tmp_path / "idx2"), "substring"
    )
    probe = index.probe(
        _df(spark, {40: _w("z", 3) + _w("s", 20) + _w("z2", 3)})
    )
    rows = [(r["new_doc_id"], r["match_doc_id"], r["span_tokens"])
            for r in probe.collect()]
    assert rows == [(40, 1, 20)]


def test_short_and_subthreshold_docs_pass(spark, docs, tmp_path):
    """A doc sharing only a MIN_SUB_LEN-1 run with the index is admitted;
    a doc shorter than the gram width passes trivially (no postings)."""
    corpus, _ = docs
    index = DedupIndex.build(
        spark, _df(spark, corpus), str(tmp_path / "idx3"), "substring"
    )
    gate = SubstringDedupGate(
        index, str(tmp_path / "out3"), str(tmp_path / "ck3")
    )
    batch = {
        50: _w("s", MIN_SUB_LEN - 1) + _w("q", 10),  # 15-token overlap
        51: _w("tiny", 4),
    }
    got = sorted(
        r["doc_id"] for r in gate.admitted(_df(spark, batch)).collect()
    )
    assert got == [50, 51]


def test_gate_requires_substring_kind(spark, docs, tmp_path):
    corpus, _ = docs
    wrong = DedupIndex.build(
        spark, _df(spark, corpus), str(tmp_path / "widx"), "winnow"
    )
    with pytest.raises(ValueError, match="substring"):
        SubstringDedupGate(wrong, "o", "s")
