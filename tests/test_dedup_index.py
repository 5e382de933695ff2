"""DedupIndex: persisted signature lifecycle for the dedup families.

Pins the facade against the registered incremental probes (one shared
signature formula means the filesystem round-trip must be invisible),
and the maintenance rules against the ANN compactions' conventions:
append ≡ rebuild for probes, segment-wins collisions, atomic
generation-pair flips with one-flip-deferred GC.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from event_store_spark.plans import QUERIES
from event_store_spark.plans.dedup_index import DedupIndex
from event_store_spark.plans.incremental import NEW_SOURCE
from event_store_spark.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").select(
        "doc_id", "source", "text"
    )


def rows(df):
    return [tuple(r) for r in df.collect()]


def test_simhash_probe_matches_registered_query(spark, docs, tmp_path):
    """build(corpus) + probe(batch) over files ≡ dedup_simhash_incremental
    (which derives the identical split in one plan)."""
    idx = DedupIndex.build(
        spark,
        docs.where(F.col("source") != NEW_SOURCE),
        str(tmp_path / "sh"),
        "simhash64",
    )
    got = rows(idx.probe(docs.where(F.col("source") == NEW_SOURCE)))
    want = rows(QUERIES["dedup_simhash_incremental"](spark, SF))
    assert got == want
    assert len(got) > 0  # the fixture split really produces matches


def test_minhash_probe_is_the_band_collision_set(spark, docs, tmp_path):
    """minhash probe == the (new × index) band-collision candidates with
    per-pair agreement counts, computed independently in-plan."""
    from event_store_spark.plans.llm import minhash_band_signatures

    idx = DedupIndex.build(
        spark,
        docs.where(F.col("source") != NEW_SOURCE),
        str(tmp_path / "mh"),
        "minhash",
    )
    got = rows(idx.probe(docs.where(F.col("source") == NEW_SOURCE)))

    sig = minhash_band_signatures(docs)
    new = sig.where(F.col("source") == NEW_SOURCE).select(
        F.col("doc_id").alias("new_doc_id"), "band", "bandkey"
    )
    old = sig.where(F.col("source") != NEW_SOURCE).select(
        F.col("doc_id").alias("match_doc_id"), "band", "bandkey"
    )
    want = rows(
        new.join(old, ["band", "bandkey"])
        .groupBy("new_doc_id", "match_doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_bands"))
        .orderBy("new_doc_id", "match_doc_id")
    )
    assert got == want
    assert len(got) > 0


def test_append_then_compact_equals_rebuild(spark, docs, tmp_path):
    """Probe results are identical whether the corpus was built at once
    or grown via append (pre-compact: segment union; post-compact:
    folded base), and compaction removes the segment."""
    base = docs.where(~F.col("source").isin(NEW_SOURCE, "src2"))
    extra = docs.where(F.col("source") == "src2")
    batch = docs.where(F.col("source") == NEW_SOURCE)

    grown = DedupIndex.build(spark, base, str(tmp_path / "grown"), "simhash64")
    grown.append(extra)
    whole = DedupIndex.build(
        spark,
        docs.where(F.col("source") != NEW_SOURCE),
        str(tmp_path / "whole"),
        "simhash64",
    )
    want = rows(whole.probe(batch))
    assert rows(grown.probe(batch)) == want  # segment union serves

    grown.compact()
    assert not os.path.isdir(tmp_path / "grown" / "segment")
    assert rows(grown.probe(batch)) == want  # folded base serves

    reopened = DedupIndex.open(spark, str(tmp_path / "grown"))
    assert reopened.kind == "simhash64"
    assert rows(reopened.probe(batch)) == want


def test_compact_segment_wins_and_deferred_gc(spark, docs, tmp_path):
    """A re-appended doc's segment signatures replace its base rows on
    compaction; the superseded generation survives exactly one flip."""
    path = tmp_path / "sw"
    base = docs.where(F.col("source") != NEW_SOURCE)
    idx = DedupIndex.build(spark, base, str(path), "simhash64")

    # re-ingest one existing doc with different text -> different sig
    victim = base.orderBy("doc_id").limit(1)
    vid = victim.collect()[0]["doc_id"]
    mutated = victim.withColumn(
        "text",
        F.lit("entirely replaced body xq1 xq2 xq3 xq4 xq5 xq6 xq7 xq8"),
    )
    base_rows = sorted(
        r["block"]
        for r in idx.signatures().where(F.col("doc_id") == vid).collect()
    )
    idx.append(mutated)
    idx.compact()

    live = idx.signatures(include_segment=False)
    got = sorted(
        r["block"] for r in live.where(F.col("doc_id") == vid).collect()
    )
    expect_idx = DedupIndex.build(
        spark, mutated, str(tmp_path / "expect"), "simhash64"
    )
    want = sorted(
        r["block"] for r in expect_idx.signatures().collect()
    )
    assert want != base_rows  # the rewrite really changed the signature
    assert got == want  # segment-won: mutated signatures serve
    # duplicate doc_id rows did not survive alongside
    assert live.where(F.col("doc_id") == vid).count() == 4

    # deferred GC: first compact published sigs-1, original sigs/ kept
    names = set(os.listdir(path))
    assert "sigs-1" in names and "sigs" in names
    idx.append(mutated)
    idx.compact()  # second flip sweeps the N-2 generation
    names = set(os.listdir(path))
    assert "sigs-2" in names and "sigs-1" in names and "sigs" not in names


def test_open_requires_complete_index(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        DedupIndex.open(spark, str(tmp_path / "missing"))


def test_winnow_probe_matches_inplan_computation(spark, docs, tmp_path):
    """winnow probe == the independently-computed (batch × stoplisted
    index) shared-fingerprint pair counts under text_winnowing's
    selection + pair rules."""
    from event_store_spark.plans.dedup_index import WINNOW_MAX_FP_DOCS
    from event_store_spark.plans.pipeline11 import (
        MIN_SHARED,
        winnow_fingerprints,
    )

    index_docs = docs.where(F.col("source") != NEW_SOURCE)
    batch_docs = docs.where(F.col("source") == NEW_SOURCE)
    idx = DedupIndex.build(spark, index_docs, str(tmp_path / "wn"), "winnow")
    got = rows(idx.probe(batch_docs))

    ifp = winnow_fingerprints(index_docs)
    keep = (
        ifp.groupBy("f")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") <= WINNOW_MAX_FP_DOCS)
        .select("f")
    )
    ifp = ifp.join(keep, "f").select(
        F.col("doc_id").alias("match_doc_id"), "f"
    )
    bfp = winnow_fingerprints(batch_docs).select(
        F.col("doc_id").alias("new_doc_id"), "f"
    )
    want = rows(
        bfp.join(ifp, "f")
        .groupBy("new_doc_id", "match_doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= MIN_SHARED)
        .orderBy("new_doc_id", "match_doc_id")
    )
    assert got == want
    assert len(got) > 0  # the fixture split really produces matches


def test_winnow_append_compact_and_stoplist(spark, docs, tmp_path):
    """Append+compact ≡ rebuild for the winnow kind, and compaction
    re-enforces the stoplist over base∪segment (a fingerprint pushed
    over MAX_FP_DOCS by appends disappears from the folded base)."""
    import event_store_spark.plans.dedup_index as di

    base = docs.where(~F.col("source").isin(NEW_SOURCE, "src2"))
    extra = docs.where(F.col("source") == "src2")
    batch = docs.where(F.col("source") == NEW_SOURCE)

    grown = DedupIndex.build(spark, base, str(tmp_path / "g"), "winnow")
    grown.append(extra)
    whole = DedupIndex.build(
        spark,
        docs.where(F.col("source") != NEW_SOURCE),
        str(tmp_path / "w"),
        "winnow",
    )
    want = rows(whole.probe(batch))
    grown.compact()  # stoplist re-enforced over the merged corpus here
    assert rows(grown.probe(batch)) == want

    # stoplist: with the ceiling forced to 1, every shared fingerprint is
    # non-discriminative and the compacted index must go silent
    old = di.WINNOW_MAX_FP_DOCS
    di.WINNOW_MAX_FP_DOCS = 1
    try:
        tiny = DedupIndex.build(
            spark,
            docs.where(F.col("source") != NEW_SOURCE),
            str(tmp_path / "t"),
            "winnow",
        )
        only_unique = tiny.signatures().groupBy("fp").count()
        assert only_unique.where(F.col("count") > 1).count() == 0
    finally:
        di.WINNOW_MAX_FP_DOCS = old


def test_registered_query_sees_append_and_rebuild(spark, docs, tmp_path):
    """A registered query builds a fresh plan on every call, so it sees
    the segment an append adds and the generation a rebuild flips to."""
    from event_store_spark.plans.registry import QUERIES, register

    path = str(tmp_path / "sh")
    base = docs.where(~F.col("source").isin(NEW_SOURCE, "src2"))
    DedupIndex.build(spark, base, path, "simhash64")
    name = "test_dedup_signatures"
    register(name)(lambda s, sf: DedupIndex.open(s, path).signatures())
    try:
        n_base = QUERIES[name](spark, SF).count()
        DedupIndex.open(spark, path).append(docs.where(F.col("source") == "src2"), batch_id=0)
        n_grown = DedupIndex.open(spark, path).signatures().count()
        assert n_grown > n_base
        assert QUERIES[name](spark, SF).count() == n_grown

        # a rebuild over half the base flips a generation
        DedupIndex.build(spark, base.where(F.col("doc_id") % 2 == 0), path, "simhash64")
        n_rebuilt = DedupIndex.open(spark, path).signatures().count()
        assert n_rebuilt < n_grown
        assert QUERIES[name](spark, SF).count() == n_rebuilt
    finally:
        QUERIES.pop(name, None)


def test_rebuild_over_existing_index_retires_segments(spark, docs, tmp_path):
    """build → append → build at the same path serves exactly the second
    build's corpus: the first generation's appended segment is retired,
    not unioned on as duplicate signature rows."""
    path = str(tmp_path / "rb")
    base = docs.where(~F.col("source").isin(NEW_SOURCE, "src2"))
    grown = docs.where(F.col("source") != NEW_SOURCE)
    DedupIndex.build(spark, base, path, "simhash64")
    DedupIndex.open(spark, path).append(
        docs.where(F.col("source") == "src2"), batch_id=0
    )
    idx = DedupIndex.build(spark, grown, path, "simhash64")

    sig = idx.signatures()
    assert sig.count() == sig.select("doc_id", "block_idx").distinct().count()
    want = DedupIndex.build(spark, grown, str(tmp_path / "fresh"), "simhash64")
    assert sorted(rows(sig)) == sorted(rows(want.signatures()))
    assert not [d for d in os.listdir(path) if d.startswith("segment")]
