"""A lost checkpoint never loses or duplicates a derived artifact's rows.

Spark batch ids restart at 0 with a new checkpoint while a file source
relists every file, so a sink that decided "already applied" from batch
ids alone either skipped the relisted backlog or applied it again beside
what it had written. Every streaming sink now keeps a `streaming.eos`
ledger that records the checkpoint's lineage, and one rule holds for all
of them: a checkpoint the ledger has not seen raises before any batch
runs, naming the checkpoint and the artifact, and leaves the artifact as
it was; deleting the artifact then rebuilds it as one full recompute
over every file.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable, NamedTuple

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from event_store_spark.plans.generations import SegmentLog
from event_store_spark.tables import load_table

SF = "/root/testdata/sf0.001"


def _rows(df: DataFrame, *cols) -> list:
    return sorted(tuple(map(str, r)) for r in df.select(*cols).collect())


class Case(NamedTuple):
    #: the three source files, as static frames of one schema
    files: Callable[[object], list[DataFrame]]
    #: ``make(spark, root, checkpoint, src)``: a fresh sink writing under
    #: ``root`` (deleting ``root`` deletes everything it wrote)
    make: Callable
    #: the sink's artifact rows
    rows: Callable[[object], list]
    #: ``feed(sink, df)``: source-shaped rows (a stream or a static
    #: frame) as the sink's input
    feed: Callable = lambda sink, df: df
    #: ``start(sink, stream)``: the sink's query over ``stream``
    start: Callable = lambda sink, stream: sink.start(stream)


# --------------------------------------------------------------- sources


def _split(df: DataFrame, key: str) -> list[DataFrame]:
    return [df.where(F.col(key) % 3 == i) for i in range(3)]


def _events(spark):
    return _split(load_table(spark, SF, "events"), "event_id")


def _docs(spark):
    docs = load_table(spark, SF, "documents").select(
        "doc_id", "source", "lang", "n_chars", "text"
    )
    return _split(docs, "doc_id")


def _gate_docs(spark, arriving: bool) -> DataFrame:
    """The first 150 documents: two sources arrive, the others are the
    base an index is built over."""
    docs = load_table(spark, SF, "documents").select("doc_id", "source", "text")
    new = F.col("source").isin("src2", "src3")
    return docs.where((F.col("doc_id") < 150) & (new if arriving else ~new))


def _arriving(spark):
    return _split(_gate_docs(spark, True), "doc_id")


def _vectors(spark):
    from event_store_spark.functions.vectors import as_double

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    return _split(emb.where(F.col("vec_id") < 60), "vec_id")


def _changes(spark):
    def env(op, ts, i, name):
        row = {"id": i, "name": name}
        return json.dumps({"op": op, "ts_ms": ts, "seq": 0,
                           "after": row, "before": row})

    files = [
        [env("c", 1, 1, "a"), env("c", 1, 2, "b")],
        [env("u", 2, 1, "a2"), env("d", 2, 2, "b")],
        [env("c", 3, 3, "c"), env("u", 4, 1, "a3")],
    ]
    return [spark.createDataFrame([(v,) for v in f], "value string") for f in files]


def _tagged(spark):
    schema = "_side string, c_key bigint, nation string, amount double"
    files = [
        [("l", 1, "DE", None), ("l", 2, "FR", None), ("r", 1, None, 10.0)],
        [("r", 2, None, 5.0), ("r", 1, None, 7.0)],
        [("l", 3, "DE", None), ("r", 3, None, 1.0), ("r", 2, None, 2.0)],
    ]
    return [spark.createDataFrame(f, schema) for f in files]


# ----------------------------------------------------------------- sinks


def _curation(spark, root, ck, src):
    from event_store_spark.streaming.curation import CurationPipeline

    return CurationPipeline(spark, os.path.join(root, "art"), ck, quota=30)


def _gate(kind):
    def make(spark, root, ck, src):
        from event_store_spark.plans.dedup_index import DedupIndex
        from event_store_spark.streaming.neardup_winnow import WinnowDedupGate
        from event_store_spark.streaming.substring_gate import SubstringDedupGate

        idx = DedupIndex.build(
            spark, _gate_docs(spark, False), os.path.join(root, "ix"), kind
        )
        gate = WinnowDedupGate if kind == "winnow" else SubstringDedupGate
        return gate(idx, os.path.join(root, "art"), ck)

    return make


def _gate_rows(gate):
    """The admitted documents and the index signatures they grew."""
    admitted = gate.index.spark.read.parquet(os.path.join(gate.out_dir, "batch-*"))
    return _rows(admitted, "doc_id"), gate.index.signatures().count()


def _typed(spark, root, ck, src):
    from event_store_spark.streaming.typed_ingest import TypedEventsMaterializer

    return TypedEventsMaterializer(spark, os.path.join(root, "art"), ck)


def _tokenized(spark, root, ck, src):
    from event_store_spark.streaming.tokenized_ingest import (
        TokenizedDocsMaterializer,
    )

    return TokenizedDocsMaterializer(spark, os.path.join(root, "art"), ck)


def _postings(spark, root, ck, src):
    from event_store_spark.plans.ir import PostingsIndex
    from event_store_spark.streaming.postings_ingest import Bm25PostingsMaintainer

    idx = PostingsIndex.build(
        spark, _gate_docs(spark, False), os.path.join(root, "art")
    )
    return Bm25PostingsMaintainer(idx, ck)


def _rollup(cls_name):
    def make(spark, root, ck, src):
        from event_store_spark.streaming import rollup

        return getattr(rollup, cls_name)(spark, src, os.path.join(root, "art"), ck)

    return make


def _cdc(spark, root, ck, src):
    from event_store_spark.streaming.cdc import CdcMaterializer

    return CdcMaterializer(
        spark, "id bigint, name string", ["id"], os.path.join(root, "art"), ck
    )


def _join(spark, root, ck, src):
    from event_store_spark.streaming.ivm import JoinAggregateView

    return JoinAggregateView(
        spark,
        join_keys=["c_key"],
        left_cols=["c_key", "nation"],
        right_cols=["c_key", "amount"],
        group_cols=["nation"],
        measures={"revenue": F.sum("amount"), "n": F.count(F.lit(1))},
        target_path=os.path.join(root, "art"),
        checkpoint=ck,
        left_schema="c_key bigint, nation string",
        right_schema="c_key bigint, amount double",
    )


def _distinct(spark, root, ck, src):
    from event_store_spark.streaming.ivm import DistinctCountView

    return DistinctCountView(
        spark, ["event_type"], "user_id", os.path.join(root, "art"), ck
    )


class _Additions:
    """An index's additions stream (`VectorIndex.maintain`) as a sink handle."""

    def __init__(self, spark, kind, target, ck):
        self.spark, self.kind, self.target, self.ck = spark, kind, target, ck

    def start(self, stream):
        from event_store_spark.plans.vector_index import VectorIndex

        kind = {"ivf_assign": "ivf", "pq_encode": "pq", "sq8_encode": "sq8"}
        idx = VectorIndex.build(
            self.spark, SF, os.path.join(os.path.dirname(self.target), "index"),
            kind[self.kind],
        )
        return idx.maintain(stream, self.target, self.ck)

    def _merge(self, df, batch_id):
        """The reference: encode a static frame as one segment."""
        from event_store_spark.plans.ivf import _assign
        from event_store_spark.plans.pipeline5 import sq8_quantize
        from event_store_spark.plans.pq import _encode_expr

        state = _trained(self.spark, self.kind)
        encode = {
            "ivf_assign": lambda: _assign(df, *state),
            "pq_encode": lambda: df.select(
                "vec_id", _encode_expr(F.col("v"), *state).alias("codes")
            ),
            "sq8_encode": lambda: sq8_quantize(df, *state),
        }[self.kind]()
        SegmentLog(self.spark, self.target).write(batch_id, encode)


def _trained(spark, kind):
    """The frozen state each additions stream encodes with."""
    from event_store_spark.plans.ivf import _ivf_index
    from event_store_spark.plans.pq import _pq_index

    if kind == "ivf_assign":
        return (_ivf_index(spark, SF, "full")[0],)
    if kind == "pq_encode":
        return (_pq_index(spark, SF)[0],)
    vs = [r.v for r in _ivf_index(spark, SF, "full")[1].select("v").collect()]
    return [min(c) for c in zip(*vs)], [max(c) for c in zip(*vs)]


def _additions(kind, cols):
    return Case(
        _vectors,
        lambda spark, root, ck, src: _Additions(
            spark, kind, os.path.join(root, "art"), ck
        ),
        lambda s: _rows(SegmentLog(s.spark, s.target).read(), *cols),
    )


CASES = {
    "curation": Case(_docs, _curation, lambda s: _rows(s.table(), "doc_id")),
    "winnow_gate": Case(_arriving, _gate("winnow"), _gate_rows),
    "substring_gate": Case(_arriving, _gate("substring"), _gate_rows),
    "typed": Case(
        _events,
        _typed,
        lambda s: _rows(s.table(), "event_id", "key_name", "k_str", "k_int"),
    ),
    "tokenized": Case(
        _docs, _tokenized, lambda s: _rows(s.table(), "doc_id", "w", "g3")
    ),
    "postings": Case(
        _arriving,
        _postings,
        lambda s: _rows(s.index.postings(), "doc_id", "t", "tf", "dl")
        + [("stats", str(s.index.stats()))],
    ),
    "rollup": Case(
        _events,
        _rollup("ContinuousRollup"),
        lambda s: _rows(s.table(), "win_start", "event_type", "cnt", "sum_value"),
        feed=lambda s, df: s._aggregate(df),
        start=lambda s, stream: s.start(),
    ),
    "ohlc": Case(
        _events,
        _rollup("ContinuousOHLC"),
        lambda s: _rows(s.table(), "win_start", "event_type", "open", "close",
                        "volume"),
        feed=lambda s, df: s._aggregate(df),
        start=lambda s, stream: s.start(),
    ),
    "cdc": Case(
        _changes, _cdc, lambda s: _rows(s.table(), "id", "_row.name"),
        feed=lambda s, df: s.parse(df),
    ),
    "join_view": Case(
        _tagged, _join, lambda s: _rows(s.table(), "nation", "revenue", "n")
    ),
    "distinct_view": Case(
        _events, _distinct, lambda s: _rows(s.table(), "event_type", "approx_distinct")
    ),
    "ivf": _additions("ivf_assign", ("vec_id", "cell")),
    "pq": _additions("pq_encode", ("vec_id", "codes")),
    "sq8": _additions("sq8_encode", ("vec_id", "q")),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_lost_checkpoint_raises_then_rebuild_is_a_full_recompute(
    spark, tmp_path, name
):
    case = CASES[name]
    files = case.files(spark)
    src, root = str(tmp_path / "src"), str(tmp_path / "sink")
    ck = str(tmp_path / "ck")

    def add_file(i):
        files[i].coalesce(1).write.mode("append").parquet(src)

    def run(sink):
        stream = spark.readStream.schema(files[0].schema).parquet(src)
        q = case.start(sink, case.feed(sink, stream))
        q.awaitTermination(240)
        assert q.exception() is None

    sink = case.make(spark, root, ck, src)
    for i in range(2):  # two availableNow passes of one file each
        add_file(i)
        run(sink)
    before = case.rows(sink)

    shutil.rmtree(ck)
    add_file(2)
    with pytest.raises(RuntimeError) as err:
        run(sink)
    assert ck in str(err.value)
    assert os.path.join(root, "art") in str(err.value)
    assert case.rows(sink) == before

    shutil.rmtree(root)
    rebuilt = case.make(spark, root, ck, src)
    run(rebuilt)

    everything = files[0].unionByName(files[1]).unionByName(files[2])
    ref = case.make(spark, str(tmp_path / "ref"), str(tmp_path / "ref_ck"), src)
    ref._merge(case.feed(ref, everything), 0)
    assert case.rows(rebuilt) == case.rows(ref)
