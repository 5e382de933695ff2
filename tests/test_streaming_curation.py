"""Streaming corpus curation (`streaming/curation.py`): the composed
ingest chain (quality gate → exact dedup → per-source quota) must equal
the batch formulation when documents arrive in doc_id order, survive
replay without duplicating, and honor dedup-before-quota across batch
boundaries."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from event_store_spark.plans import generations
from event_store_spark.plans.generations import SegmentLog
from event_store_spark.streaming.curation import (
    LEN_HI,
    LEN_LO,
    QUALITY_MIN,
    CurationPipeline,
)
from event_store_spark.tables import load_table

QUOTA = 7  # small enough that the fixture actually hits it


def _batch_reference(spark, sf_smoke):
    """The batch chain with doc_id-order tie-breaks (== arrival order in
    the test's delivery): quality gate → keep-min-doc_id per sha2(text)
    → first QUOTA per source by doc_id."""
    from event_store_spark.functions.text import quality_score

    docs = load_table(spark, sf_smoke, "documents")
    keep = (quality_score() >= QUALITY_MIN) & F.col("n_chars").between(
        LEN_LO, LEN_HI
    )
    q = docs.where(keep).select(
        "doc_id", "source", "lang", F.sha2("text", 256).alias("h")
    )
    w1 = Window.partitionBy("h").orderBy("doc_id")
    dedup = q.withColumn("rn", F.row_number().over(w1)).where(F.col("rn") == 1)
    w2 = Window.partitionBy("source").orderBy("doc_id")
    return (
        dedup.withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= QUOTA)
        .select("doc_id", "source", "lang")
    )


def _deliver_in_batches(spark, docs, src, n_batches=4):
    n = docs.count()
    per = n // n_batches
    ordered = docs.orderBy("doc_id").collect()
    for b in range(n_batches):
        rows = ordered[b * per : (b + 1) * per if b < n_batches - 1 else n]
        spark.createDataFrame(rows, docs.schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)


def test_streaming_curation_matches_batch_chain(spark, sf_smoke, tmp_path):
    docs = load_table(spark, sf_smoke, "documents").select(
        "doc_id", "source", "lang", "n_chars", "text"
    )
    src = str(tmp_path / "src")
    _deliver_in_batches(spark, docs, src)

    pipe = CurationPipeline(
        spark, str(tmp_path / "cur"), str(tmp_path / "ck"), quota=QUOTA
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = pipe.start(stream)
    q.awaitTermination(240)

    got = sorted(
        (r.doc_id, r.source, r.lang) for r in pipe.table().collect()
    )
    want = sorted(
        (r.doc_id, r.source, r.lang)
        for r in _batch_reference(spark, sf_smoke).collect()
    )
    assert got == want
    assert got  # the fixture admits a non-empty corpus

    # quota really binds: no source exceeds it
    per_src = (
        pipe.table().groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert all(r.n <= QUOTA for r in per_src)
    assert any(r.n == QUOTA for r in per_src)  # at least one source capped

    # replay the whole source under the same checkpoint: no changes
    before = pipe.table().count()
    q = pipe.start(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q.awaitTermination(240)
    assert pipe.table().count() == before


def test_cross_batch_duplicate_and_quota_reject_interplay(spark, tmp_path):
    """A later-batch duplicate of an earlier doc is dropped even when the
    original was rejected by QUOTA (dedup-before-quota, the batch plan's
    pinned stage order) — the seen-ledger records every quality-passing
    hash, not just admitted ones."""
    base = (
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
        "eiusmod tempor incididunt ut labore et dolore magna aliqua. "
    ) * 3
    rows = []
    # 4 distinct quality-passing docs from one source (quota 2 → 2 rejects);
    # n_chars sits well inside the gate's bounds so the score clears 0.55
    # with margin (at the exact boundary the closed form is FP-sensitive)
    for i in range(4):
        rows.append((i, "s0", "en", 500 + i, base + f"tail {i}"))
    schema = "doc_id bigint, source string, lang string, n_chars bigint, text string"
    b1 = spark.createDataFrame(rows, schema)
    # batch 2: exact duplicates of doc 1 (admitted) and doc 3 (quota-rejected)
    b2 = spark.createDataFrame(
        [
            (10, "s1", "en", 501, base + "tail 1"),
            (11, "s1", "en", 503, base + "tail 3"),
            (12, "s1", "en", 599, base + "tail 99"),  # fresh
        ],
        schema,
    )
    src = str(tmp_path / "src")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    pipe = CurationPipeline(
        spark, str(tmp_path / "cur"), str(tmp_path / "ck"), quota=2
    )
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = pipe.start(stream)
    q.awaitTermination(240)

    admitted = sorted(r.doc_id for r in pipe.table().collect())
    # batch 1: docs 0,1 admitted (quota 2), 2,3 quality-passed but capped;
    # batch 2: 10 (dup of 1) and 11 (dup of quota-rejected 3) both dropped,
    # 12 is fresh and s1 has capacity
    assert admitted == [0, 1, 12]


def _log_dirs(spark, root):
    """(watermark, segment batch ids on disk, snapshot dirs on disk)."""
    names = os.listdir(root)
    segs = sorted(int(n[1:]) for n in names if n[:1] == "b" and n[1:].isdigit())
    snaps = sorted(n for n in names if n.startswith("snap"))
    return SegmentLog(spark, str(root)).watermark(), segs, snaps


def test_ledger_compaction_bounds_subdirs_and_preserves_state(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """With two segments per fold, the seen/admitted per-batch segments
    fold into snapshots: dir counts stay bounded, the final admitted
    corpus still equals the batch chain, and dedup still sees hashes
    that live only in the snapshot."""
    monkeypatch.setattr(generations, "SEGMENTS_PER_FOLD", 2)
    docs = load_table(spark, sf_smoke, "documents").select(
        "doc_id", "source", "lang", "n_chars", "text"
    )
    src = str(tmp_path / "src")
    _deliver_in_batches(spark, docs, src, n_batches=6)

    pipe = CurationPipeline(
        spark, str(tmp_path / "cur"), str(tmp_path / "ck"), quota=QUOTA
    )
    q = pipe.start(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q.awaitTermination(240)

    for kind in ("seen", "admitted"):
        watermark, segs, snaps = _log_dirs(spark, tmp_path / "cur" / kind)
        assert watermark >= 0 and len(snaps) == 1, (kind, watermark, snaps)
        assert len(segs) < 6, f"{kind}: {segs}, no fold"

    got = sorted((r.doc_id, r.source, r.lang) for r in pipe.table().collect())
    want = sorted(
        (r.doc_id, r.source, r.lang)
        for r in _batch_reference(spark, sf_smoke).collect()
    )
    assert got == want

    # a duplicate whose original hash now lives ONLY in the snapshot is
    # still dropped (the ledger read goes through the snapshot)
    first = docs.orderBy("doc_id").limit(1).collect()[0]
    dup = spark.createDataFrame(
        [(99_999_999, first.source, first.lang, first.n_chars, first.text)],
        docs.schema,
    )
    dup.coalesce(1).write.mode("append").parquet(src)
    q = pipe.start(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q.awaitTermination(240)
    assert 99_999_999 not in {r.doc_id for r in pipe.table().collect()}


def test_crash_after_fold_flip_is_swept_by_next_fold(
    spark, sf_smoke, tmp_path, monkeypatch, crash_gc_after_next_fold
):
    """A crash between the seen ledger's second _SNAP flip and its GC
    leaves the folded segments and the superseded snapshot behind; after
    the restart the next fold removes both, and the admitted corpus is
    still the batch chain's."""
    monkeypatch.setattr(generations, "SEGMENTS_PER_FOLD", 2)
    docs = load_table(spark, sf_smoke, "documents").select(
        "doc_id", "source", "lang", "n_chars", "text"
    )
    rows = docs.orderBy("doc_id").collect()
    cut = -(-len(rows) // 6)
    batches = [
        spark.createDataFrame(rows[i : i + cut], docs.schema)
        for i in range(0, len(rows), cut)
    ]
    assert len(batches) == 6

    def pipe():
        return CurationPipeline(
            spark, str(tmp_path / "cur"), str(tmp_path / "ck"), quota=QUOTA
        )

    for i in range(3):  # the first fold, at batch 1, runs clean
        pipe()._gate(batches[i], i)
    crash_gc_after_next_fold()
    with pytest.raises(OSError, match="injected crash"):
        pipe()._gate(batches[3], 3)

    # restart: batch 3 is redelivered (a no-op, it committed before the
    # fold), then the stream goes on through one more fold
    restarted = pipe()
    for i in range(3, 6):
        restarted._gate(batches[i], i)
    watermark, segs, snaps = _log_dirs(spark, tmp_path / "cur" / "seen")
    assert watermark == 5
    assert not [i for i in segs if i <= watermark], segs
    assert snaps == ["snap5"], snaps

    got = sorted((r.doc_id, r.source, r.lang) for r in restarted.table().collect())
    want = sorted(
        (r.doc_id, r.source, r.lang)
        for r in _batch_reference(spark, sf_smoke).collect()
    )
    assert got == want
