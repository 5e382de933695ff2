"""PostingsIndex lifecycle: build/probe/append/compact + the streaming
maintainer — the retrieval index completed to the ANN/dedup families'
persistence discipline."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from event_store_spark.plans.ir import (
    QUERY_TERMS,
    PostingsIndex,
    term_bucket,
)
from event_store_spark.streaming.postings_ingest import Bm25PostingsMaintainer
from event_store_spark.tables import load_table

SF = "/root/testdata/sf0.001"
NEW_SRC = ("src2", "src3")  # arriving slice; the rest is the base corpus


@pytest.fixture(scope="module")
def corpus(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "source", "text")
    return (
        docs.where(~F.col("source").isin(*NEW_SRC)),
        docs.where(F.col("source").isin(*NEW_SRC)).orderBy("doc_id"),
        docs,
    )


def _scores(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_appended_index_scores_like_a_rebuild(spark, corpus, tmp_path):
    """Base build + two appends ≡ one fresh build over the whole corpus:
    identical top-k (exact integer stats make avgdl bit-equal), and
    compaction changes nothing but the layout."""
    base, arriving, alldocs = corpus
    idx = PostingsIndex.build(spark, base, str(tmp_path / "ix"))
    rows = arriving.collect()
    ids = [r["doc_id"] for r in rows]
    idx.append(arriving.where(F.col("doc_id").isin(ids[:40])), batch_id=0)
    idx.append(arriving.where(F.col("doc_id").isin(ids[40:])), batch_id=1)

    whole = PostingsIndex.build(spark, alldocs, str(tmp_path / "whole"))
    want = _scores(whole.probe(QUERY_TERMS))
    assert _scores(idx.probe(QUERY_TERMS)) == want
    assert idx.stats() == whole.stats()

    # crash redelivery: same batch id rewrites, never duplicates
    n = idx.postings().count()
    idx.append(arriving.where(F.col("doc_id").isin(ids[:40])), batch_id=0)
    assert idx.postings().count() == n
    assert _scores(idx.probe(QUERY_TERMS)) == want

    # compact: segments fold into a fresh generation, verdicts unchanged
    idx.compact()
    assert not [
        d for d in os.listdir(tmp_path / "ix") if d.startswith("segment")
    ]
    assert _scores(idx.probe(QUERY_TERMS)) == want
    assert idx.stats() == whole.stats()
    # reopen resolves through the pointer
    again = PostingsIndex.open(spark, str(tmp_path / "ix"))
    assert _scores(again.probe(QUERY_TERMS)) == want


def test_empty_append_and_incomplete_segment_are_invisible(
    spark, corpus, tmp_path
):
    base, arriving, _ = corpus
    idx = PostingsIndex.build(spark, base, str(tmp_path / "ix"))
    before = _scores(idx.probe(QUERY_TERMS))
    stats = idx.stats()

    # empty batch: nothing written, stale dirs cleared
    idx.append(arriving.limit(0), batch_id=7)
    assert not (tmp_path / "ix" / "segment-b7").exists()
    assert idx.stats() == stats

    # a segment dir WITHOUT its stats marker (crash mid-append) is not
    # served: readers only union marker-complete segments
    os.makedirs(tmp_path / "ix" / "segment-b9", exist_ok=True)
    assert _scores(idx.probe(QUERY_TERMS)) == before
    assert idx.stats() == stats


def test_segment_wins_on_reingested_doc(spark, corpus, tmp_path):
    """A doc re-ingested with NEW text: compact keeps the segment's rows
    (newest wins) and the recomputed stats reflect the new length."""
    base, _, _ = corpus
    idx = PostingsIndex.build(spark, base, str(tmp_path / "ix"))
    victim = base.orderBy("doc_id").limit(1).collect()[0]
    new_text = "spark spark table hash " * 4
    redo = spark.createDataFrame(
        [(victim["doc_id"], victim["source"], new_text.strip())],
        "doc_id bigint, source string, text string",
    )
    idx.append(redo, batch_id=0)
    idx.compact()
    per_doc = (
        idx.postings()
        .where(F.col("doc_id") == victim["doc_id"])
        .select("t", "tf", "dl")
        .collect()
    )
    got = {(r["t"], r["tf"]) for r in per_doc}
    assert got == {("spark", 8), ("table", 4), ("hash", 4)}
    assert all(r["dl"] == 16 for r in per_doc)
    # recomputed stats: same doc count, sum_dl shifted by the new length
    n_before = base.count()
    assert idx.stats()["n_docs"] == n_before


def test_compact_last_wins_across_segments(spark, corpus, tmp_path):
    """The same doc re-ingested in TWO batches: compaction keeps the
    highest batch id's rows — including past the b9/b10 lexicographic
    trap — and the doc is counted once."""
    base, _, _ = corpus
    idx = PostingsIndex.build(spark, base, str(tmp_path / "ix"))
    victim = base.orderBy("doc_id").limit(1).collect()[0]

    def redo(text, bid):
        idx.append(
            spark.createDataFrame(
                [(victim["doc_id"], victim["source"], text)],
                "doc_id bigint, source string, text string",
            ),
            batch_id=bid,
        )

    redo("old old words", 9)
    redo("spark table hash", 10)  # numerically later, lexicographically not
    idx.compact()
    rows = (
        idx.postings()
        .where(F.col("doc_id") == victim["doc_id"])
        .select("t", "tf")
        .collect()
    )
    assert {(r["t"], r["tf"]) for r in rows} == {
        ("spark", 1), ("table", 1), ("hash", 1)
    }
    assert idx.stats()["n_docs"] == base.count()


def test_meta_layout_and_bucket_agreement(spark, corpus, tmp_path):
    base, _, _ = corpus
    idx = PostingsIndex.build(spark, base, str(tmp_path / "ix"))
    with open(tmp_path / "ix" / "meta.json") as fh:
        meta = json.load(fh)
    assert set(meta) == {"n_docs", "sum_dl", "format"}
    assert meta["n_docs"] == base.count()
    # every parquet partition value matches the python-side hash
    rows = idx.postings().select("t", "bucket").limit(200).collect()
    assert rows and all(term_bucket(r["t"]) == r["bucket"] for r in rows)


def test_streaming_maintainer_real_stream(spark, corpus, tmp_path):
    base, arriving, alldocs = corpus
    idx = PostingsIndex.build(spark, base, str(tmp_path / "ix"))
    src = str(tmp_path / "src")
    rows = arriving.collect()
    ids = [r["doc_id"] for r in rows]
    for i, lo in enumerate(range(0, len(ids), 23)):
        arriving.where(
            F.col("doc_id").isin(ids[lo : lo + 23])
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, f"part{i}")
        )
    maint = Bm25PostingsMaintainer(idx, str(tmp_path / "ck"))

    def run():
        q = maint.start(
            spark.readStream.schema(arriving.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/part*")
        )
        q.awaitTermination(240)

    run()
    whole = PostingsIndex.build(spark, alldocs, str(tmp_path / "whole"))
    want = _scores(whole.probe(QUERY_TERMS))
    assert _scores(idx.probe(QUERY_TERMS)) == want
    assert idx.stats() == whole.stats()
    # checkpoint replay: nothing changes
    run()
    assert idx.stats() == whole.stats()


def test_registered_query_sees_append(spark, corpus, tmp_path):
    """A registered query builds a fresh plan on every call, so the call
    after an append sees the new segment."""
    from event_store_spark.plans.registry import QUERIES, register

    base, arriving, _ = corpus
    path = str(tmp_path / "ix")
    PostingsIndex.build(spark, base, path)
    name = "test_postings_rows"
    register(name)(lambda s, sf: PostingsIndex.open(s, path).postings())
    try:
        n_base = QUERIES[name](spark, SF).count()
        PostingsIndex.open(spark, path).append(arriving, batch_id=0)
        n_now = PostingsIndex.open(spark, path).postings().count()
        assert n_now > n_base
        assert QUERIES[name](spark, SF).count() == n_now
    finally:
        QUERIES.pop(name, None)


def test_rebuild_over_existing_index_replaces_it(spark, corpus, tmp_path):
    """build → append → build at the same path publishes the second
    build as a new generation and retires the old segments; the rebuild
    must not be mistaken for a lost publish race that keeps old rows."""
    base, arriving, _ = corpus
    path = str(tmp_path / "ix")
    PostingsIndex.build(spark, base, path)
    PostingsIndex.open(spark, path).append(arriving, batch_id=0)
    idx = PostingsIndex.build(spark, base, path)

    want = PostingsIndex.build(spark, base, str(tmp_path / "fresh"))
    assert idx.stats() == want.stats()
    assert idx.postings().count() == want.postings().count()
    assert _scores(idx.probe(QUERY_TERMS)) == _scores(want.probe(QUERY_TERMS))
    assert not [
        d for d in os.listdir(path) if d.startswith(("segment", "segmeta"))
    ]
