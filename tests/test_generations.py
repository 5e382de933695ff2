"""`plans/generations.py`: the one publish path for versioned artifacts.

- a one-token pointer (the early IVF/PQ format) still opens;
- a crash at the commit point (the pointer write) of any publish leaves
  readers on the previous generation, a retry publishes, and GC then
  leaves at most the N-1 generation (pairs), current + 2 versions
  (versioned tables) or the live snapshot plus the marked segments above
  it (segment logs) on disk;
- for every segment-log user, an empty batch leaves no segment and a
  segment directory without its marker is never read;
- no module outside `generations.py` can publish a pointer on its own
  (a static check, no Spark).
"""

from __future__ import annotations

import ast
import datetime
import json
import os
import pathlib
import shutil
from typing import Callable, NamedTuple

import pytest
from pyspark.sql import functions as F

from event_store_spark.plans import generations
from event_store_spark.plans.generations import (
    GenerationPair,
    SegmentLog,
    VersionedTable,
)
from event_store_spark.tables import load_table

PKG = pathlib.Path(__file__).resolve().parent.parent / "event_store_spark"


# ------------------------------------------------------ one-token pointer


def test_one_token_pointer_reads_as_dir_plus_original_meta(tmp_path):
    (tmp_path / "CELLS").write_text("cells")
    gp = GenerationPair(str(tmp_path), "cells", "centroids.json", "CELLS")
    assert gp.live() == ("cells", "centroids.json")


def test_one_token_pointer_indexes_open_and_search(spark, sf_smoke, tmp_path):
    """IVF and PQ indexes whose pointer names only the bulk dir (the
    early format) open, read and serve through `VectorIndex`, exactly
    as before the pointer existed."""
    from event_store_spark.plans.ivf import _ivf_index
    from event_store_spark.plans.vector_index import VectorIndex

    def load(spark, path):
        idx = VectorIndex.open(spark, path)
        return idx.trained, idx.rows()

    _, assigned = _ivf_index(spark, sf_smoke, "full")
    qv = [float(x) for x in assigned.where(F.col("vec_id") == 0).first()["v"]]
    for kind, pointer, bulk in (
        ("ivf", "CELLS", "cells"),
        ("pq", "CODES", "codes"),
    ):
        path = str(tmp_path / kind)
        VectorIndex.build(spark, sf_smoke, path, kind)
        meta, rows = load(spark, path)
        want_rows = sorted(map(tuple, rows.collect()))
        want_hits = VectorIndex.open(spark, path).search(qv, k=5).collect()
        os.rename(os.path.join(path, bulk), os.path.join(path, bulk + "-1"))
        with open(os.path.join(path, pointer), "w") as fh:
            fh.write(bulk + "-1")
        meta2, rows2 = load(spark, path)
        assert meta2 == meta
        assert sorted(map(tuple, rows2.collect())) == want_rows
        assert VectorIndex.open(spark, path).search(qv, k=5).collect() == want_hits


# ------------------------------------------------------ crash at publish


class Case(NamedTuple):
    publish: Callable[[], None]
    read: Callable[[], object]
    #: the pair, versioned table or segment log under test
    target: GenerationPair | VersionedTable | SegmentLog


def _rows(df, *cols):
    return sorted(map(tuple, df.select(*cols).collect()))


def _ivf_adds(spark, tmp_path, assigned, offset):
    adds = str(tmp_path / "adds")
    SegmentLog(spark, adds).write(
        0,
        assigned.where(F.col("vec_id") < 3).select(
            (F.col("vec_id") + offset).alias("vec_id"), "v", "cell"
        ),
        ("cell",),
    )
    return adds


def _ivf_retrain(spark, tmp_path, sf):
    from event_store_spark.plans.vector_index import VectorIndex

    path = str(tmp_path / "ivf")
    VectorIndex.build(spark, sf, path, "ivf")
    VectorIndex.build(spark, sf, path, "ivf")

    def read():
        idx = VectorIndex.open(spark, path)
        return idx.trained, _rows(idx.rows(), "vec_id", "cell")

    return Case(
        lambda: VectorIndex.build(spark, sf, path, "ivf"),
        read,
        GenerationPair(path, "cells", "centroids.json", "CELLS"),
    )


def _ivf_compact(spark, tmp_path, sf):
    from event_store_spark.plans.vector_index import VectorIndex

    path = str(tmp_path / "ivf")
    VectorIndex.build(spark, sf, path, "ivf")
    adds = _ivf_adds(
        spark, tmp_path, VectorIndex.open(spark, path).rows(), 3_000_000
    )
    VectorIndex.open(spark, path).compact(adds)

    def read():
        idx = VectorIndex.open(spark, path)
        return idx.trained, _rows(idx.rows(), "vec_id", "cell")

    return Case(
        lambda: VectorIndex.open(spark, path).compact(adds),
        read,
        GenerationPair(path, "cells", "centroids.json", "CELLS"),
    )


def _pq_retrain(spark, tmp_path, sf):
    from event_store_spark.plans.vector_index import VectorIndex

    path = str(tmp_path / "pq")
    VectorIndex.build(spark, sf, path, "pq")
    VectorIndex.build(spark, sf, path, "pq")

    def read():
        idx = VectorIndex.open(spark, path)
        return idx.trained, _rows(idx.rows(), "vec_id", "codes")

    return Case(
        lambda: VectorIndex.build(spark, sf, path, "pq"),
        read,
        GenerationPair(path, "codes", "codebook.json", "CODES"),
    )


def _sq8_retrain(spark, tmp_path, sf):
    from event_store_spark.plans.vector_index import VectorIndex

    path = str(tmp_path / "sq8")
    VectorIndex.build(spark, sf, path, "sq8")
    VectorIndex.build(spark, sf, path, "sq8")

    def read():
        idx = VectorIndex.open(spark, path)
        return idx.trained, _rows(idx.rows(), "vec_id", "q")

    return Case(
        lambda: VectorIndex.build(spark, sf, path, "sq8"),
        read,
        GenerationPair(path, "codes", "limits.json", "CODES"),
    )


def _hnsw_compact(spark, tmp_path, sf):
    from event_store_spark.plans.vector_index import VectorIndex

    path = str(tmp_path / "hnsw")
    VectorIndex.build(spark, sf, path, "hnsw")
    graph = VectorIndex.open(spark, path).rows()
    adds = str(tmp_path / "adds")
    SegmentLog(spark, adds).write(
        0,
        graph.where(F.col("vec_id") < 3).select(
            "cell", (F.col("vec_id") + 4_000_000).alias("vec_id"), "v"
        ),
        ("cell",),
    )
    VectorIndex.open(spark, path).compact(adds)

    def read():
        idx = VectorIndex.open(spark, path)
        return idx.trained, _rows(idx.rows(), "vec_id", "cell", "level")

    return Case(
        lambda: VectorIndex.open(spark, path).compact(adds),
        read,
        GenerationPair(path, "graph", "hnsw.json"),
    )


def _docs(spark, sf):
    return load_table(spark, sf, "documents").select("doc_id", "source", "text")


def _dedup_compact(spark, tmp_path, sf):
    from event_store_spark.plans.dedup_index import DedupIndex

    docs = _docs(spark, sf)
    path = str(tmp_path / "dedup")
    idx = DedupIndex.build(
        spark, docs.where(F.col("doc_id") % 3 != 0), path, "simhash64"
    )
    idx.append(docs.where(F.col("doc_id") % 6 == 0), batch_id=1)
    idx.compact()
    idx.append(docs.where(F.col("doc_id") % 6 == 3), batch_id=2)
    return Case(
        idx.compact,
        lambda: _rows(idx.signatures(), "doc_id", "block_idx", "block"),
        GenerationPair(path, "sigs", "meta.json"),
    )


def _postings_compact(spark, tmp_path, sf):
    from event_store_spark.plans.ir import PostingsIndex

    docs = _docs(spark, sf)
    path = str(tmp_path / "postings")
    idx = PostingsIndex.build(spark, docs.where(F.col("doc_id") % 3 != 0), path)
    idx.append(docs.where(F.col("doc_id") % 6 == 0), batch_id=1)
    idx.compact()
    idx.append(docs.where(F.col("doc_id") % 6 == 3), batch_id=2)
    return Case(
        idx.compact,
        lambda: (idx.stats(), _rows(idx.postings(), "doc_id", "t", "tf")),
        GenerationPair(path, "rows", "meta.json"),
    )


T0 = datetime.datetime(2025, 3, 1)


def _rollup(spark, tmp_path, sf):
    from event_store_spark.streaming.rollup import ContinuousRollup

    rollup = ContinuousRollup(
        spark, str(tmp_path / "src"), str(tmp_path / "rollup"), str(tmp_path / "ck")
    )

    def batch(i):
        rows = [(T0 + datetime.timedelta(hours=i), "click", float(i))]
        return (
            spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
            .groupBy(F.window("ts", "1 hour").alias("window"), "event_type")
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sum_value"))
        )

    for i in range(3):
        rollup._merge(batch(i), i)
    return Case(
        lambda: rollup._merge(batch(3), 3),
        lambda: _rows(rollup.table(), "win_start", "event_type", "cnt"),
        rollup,
    )


def _cdc(spark, tmp_path, sf):
    from event_store_spark.streaming.cdc import CdcMaterializer

    mat = CdcMaterializer(
        spark,
        row_schema="id bigint, name string",
        keys=["id"],
        target_path=str(tmp_path / "tbl"),
        checkpoint=str(tmp_path / "ck"),
    )

    def batch(i):
        env = {"op": "c", "ts_ms": i, "seq": 0, "after": {"id": i, "name": f"n{i}"}}
        raw = spark.createDataFrame([(json.dumps(env),)], "value string")
        return mat.parse(raw)

    for i in range(3):
        mat._merge(batch(i), i)
    return Case(
        lambda: mat._merge(batch(3), 3),
        lambda: _rows(mat.table(), "id", "ts_ms", "_row"),
        mat,
    )


def _join_view(spark, tmp_path, sf):
    from event_store_spark.streaming.ivm import JoinAggregateView

    view = JoinAggregateView(
        spark,
        join_keys=["c_key"],
        left_cols=["c_key", "nation"],
        right_cols=["c_key", "amount"],
        group_cols=["nation"],
        measures={"revenue": F.sum("amount")},
        target_path=str(tmp_path / "mv"),
        checkpoint=str(tmp_path / "ck"),
        left_schema="c_key bigint, nation string",
        right_schema="c_key bigint, amount double",
    )

    def batch(i):
        rows = [("l", i, f"N{i % 2}", None), ("r", i, None, float(i + 1))]
        return spark.createDataFrame(
            rows, "_side string, c_key bigint, nation string, amount double"
        )

    for i in range(3):
        view._merge(batch(i), i)
    return Case(
        lambda: view._merge(batch(3), 3),
        lambda: _rows(view.table(), "nation", "revenue"),
        view,
    )


def _distinct_view(spark, tmp_path, sf):
    from event_store_spark.streaming.ivm import DistinctCountView

    view = DistinctCountView(
        spark,
        group_cols=["event_type"],
        value_col="user_id",
        target_path=str(tmp_path / "dv"),
        checkpoint=str(tmp_path / "ck"),
        input_schema="event_type string, user_id bigint",
    )

    def batch(i):
        rows = [("click", u) for u in range(10 * i, 10 * i + 10)]
        return spark.createDataFrame(rows, "event_type string, user_id bigint")

    for i in range(3):
        view._merge(batch(i), i)
    return Case(
        lambda: view._merge(batch(3), 3),
        lambda: _rows(view.table(), "event_type", "approx_distinct"),
        view,
    )


def _segment_log(spark, tmp_path, n):
    log = SegmentLog(spark, str(tmp_path / "log"))
    for i in range(n):
        log.write(i, spark.createDataFrame([(i,)], "x bigint"))
    return log


def _segment_append(spark, tmp_path, sf):
    log = _segment_log(spark, tmp_path, 2)
    return Case(
        lambda: log.write(2, spark.createDataFrame([(2,)], "x bigint")),
        lambda: _rows(log.read(), "x"),
        log,
    )


def _segment_fold(spark, tmp_path, sf):
    n = generations.SEGMENTS_PER_FOLD
    log = _segment_log(spark, tmp_path, n)
    return Case(lambda: log.fold(n - 1), lambda: _rows(log.read(), "x"), log)


CASES = {
    "ivf_retrain": _ivf_retrain,
    "ivf_compact": _ivf_compact,
    "pq_retrain": _pq_retrain,
    "sq8_retrain": _sq8_retrain,
    "hnsw_compact": _hnsw_compact,
    "dedup_compact": _dedup_compact,
    "postings_compact": _postings_compact,
    "rollup": _rollup,
    "cdc": _cdc,
    "join_view": _join_view,
    "distinct_view": _distinct_view,
    "segment_append": _segment_append,
    "segment_fold": _segment_fold,
}


def _live(target):
    if isinstance(target, GenerationPair):
        return target.live()
    if isinstance(target, SegmentLog):
        return target.paths()
    return target._current_version()


@pytest.mark.parametrize("name", sorted(CASES))
def test_crash_at_publish_keeps_previous_generation(
    spark, sf_smoke, tmp_path, monkeypatch, name
):
    case = CASES[name](spark, tmp_path, sf_smoke)
    before, live_before = case.read(), _live(case.target)

    real = generations.write_pointer
    crashes = []

    def crash_once(path, text):
        if not crashes:
            crashes.append(path)
            raise OSError("injected crash at the pointer write")
        real(path, text)

    monkeypatch.setattr(generations, "write_pointer", crash_once)
    with pytest.raises(OSError, match="injected crash"):
        case.publish()
    assert _live(case.target) == live_before
    assert case.read() == before

    case.publish()  # the retry publishes
    live_after = _live(case.target)
    assert live_after != live_before

    target = case.target
    if isinstance(target, GenerationPair):
        d = target.dir_name
        on_disk = {
            n for n in os.listdir(target.path) if n == d or n.startswith(d + "-")
        }
        assert on_disk == {live_before[0], live_after[0]}
    elif isinstance(target, SegmentLog):
        on_disk = {
            os.path.join(target.root, n)
            for n in os.listdir(target.root)
            if n.startswith(("b", "snap"))
        }
        assert on_disk == set(live_after)
    else:
        assert target.versions() == ["_v1", "_v2", "_v3"]
        assert live_after == "_v3"


# ------------------------------------------------------ segment-log users


class User(NamedTuple):
    #: the user's per-batch path: ``append(batch_id, empty)``
    append: Callable[[int, bool], None]
    read: Callable[[], object]
    #: the user's segment log directory
    root: str


def _postings_user(spark, tmp_path, sf):
    from event_store_spark.plans.ir import PostingsIndex

    docs = _docs(spark, sf)
    idx = PostingsIndex.build(
        spark, docs.where(F.col("doc_id") % 2 == 0), str(tmp_path / "ix")
    )
    odd = docs.where(F.col("doc_id") % 2 == 1)
    return User(
        lambda i, empty: idx.append(odd.limit(0) if empty else odd, batch_id=i),
        lambda: (idx.stats(), _rows(idx.postings(), "doc_id", "t", "tf")),
        str(tmp_path / "ix" / "segments"),
    )


def _dedup_user(spark, tmp_path, sf):
    from event_store_spark.plans.dedup_index import DedupIndex

    docs = _docs(spark, sf)
    idx = DedupIndex.build(
        spark,
        docs.where(F.col("doc_id") % 2 == 0),
        str(tmp_path / "ix"),
        "simhash64",
    )
    odd = docs.where(F.col("doc_id") % 2 == 1)
    return User(
        lambda i, empty: idx.append(odd.limit(0) if empty else odd, batch_id=i),
        lambda: _rows(idx.signatures(), "doc_id", "block_idx", "block"),
        str(tmp_path / "ix" / "segments"),
    )


def _ivm_user(spark, tmp_path, sf):
    from event_store_spark.streaming.ivm import JoinAggregateView

    view = JoinAggregateView(
        spark,
        join_keys=["c_key"],
        left_cols=["c_key", "nation"],
        right_cols=["c_key", "amount"],
        group_cols=["nation"],
        measures={"revenue": F.sum("amount")},
        target_path=str(tmp_path / "mv"),
        checkpoint=str(tmp_path / "ck"),
        left_schema="c_key bigint, nation string",
        right_schema="c_key bigint, amount double",
    )
    schema = "_side string, c_key bigint, nation string, amount double"
    rows = [("l", 7, "N7", None), ("r", 7, None, 8.0)]

    def append(i, empty):
        view._merge(spark.createDataFrame([] if empty else rows, schema), i)

    def read():
        pre = view._side_pre("l", 99, "c_key bigint, nation string")
        return _rows(pre, "c_key", "nation")

    return User(append, read, str(tmp_path / "mv" / "_side_l"))


def _curation_user(spark, tmp_path, sf):
    from event_store_spark.streaming.curation import CurationPipeline

    docs = load_table(spark, sf, "documents").select(
        "doc_id", "source", "lang", "n_chars", "text"
    )
    pipe = CurationPipeline(spark, str(tmp_path / "cur"), str(tmp_path / "ck"))
    return User(
        lambda i, empty: pipe._gate(docs.limit(0) if empty else docs, i),
        lambda: _rows(pipe.table(), "doc_id"),
        str(tmp_path / "cur" / "admitted"),
    )


def _typed_user(spark, tmp_path, sf):
    from event_store_spark.streaming.typed_ingest import TypedEventsMaterializer

    events = load_table(spark, sf, "events")
    mat = TypedEventsMaterializer(
        spark, str(tmp_path / "typed"), str(tmp_path / "ck")
    )
    return User(
        lambda i, empty: mat._sink(events.limit(0) if empty else events, i),
        lambda: _rows(mat.table(), "event_id", "key_name"),
        str(tmp_path / "typed"),
    )


USERS = {
    "postings": _postings_user,
    "dedup": _dedup_user,
    "ivm_side": _ivm_user,
    "curation": _curation_user,
    "typed_ingest": _typed_user,
}


@pytest.mark.parametrize("name", sorted(USERS))
def test_empty_batch_and_unmarked_segment_are_invisible(
    spark, sf_smoke, tmp_path, name
):
    """An empty batch leaves no segment directory and no marker, and a
    segment directory holding data but no marker (a crash before the
    marker write) is never read."""
    user = USERS[name](spark, tmp_path, sf_smoke)
    user.append(0, False)
    before = user.read()
    assert sorted(os.listdir(user.root)) == ["_SEGMENT.0", "b0"]

    user.append(1, True)
    assert sorted(os.listdir(user.root)) == ["_SEGMENT.0", "b0"]
    assert user.read() == before

    shutil.copytree(os.path.join(user.root, "b0"), os.path.join(user.root, "b5"))
    assert user.read() == before


# ------------------------------------------------------ crash sweep


class Sink(NamedTuple):
    #: ``make(spark, sf, root)``: the sink writing under ``root``, on the
    #: checkpoint ``root/ck`` (called again on restart)
    make: Callable
    #: ``batches(spark, sf)``: the stream's three batches, static frames
    batches: Callable
    rows: Callable[[object], object]


def _thirds(df, key):
    return [df.where(F.col(key) % 3 == i) for i in range(3)]


def _typed_sink(spark, sf, root):
    from event_store_spark.streaming.typed_ingest import TypedEventsMaterializer

    return TypedEventsMaterializer(
        spark, os.path.join(root, "typed"), os.path.join(root, "ck")
    )


def _join_sink(spark, sf, root):
    from event_store_spark.streaming.ivm import JoinAggregateView

    return JoinAggregateView(
        spark,
        join_keys=["c_key"],
        left_cols=["c_key", "nation"],
        right_cols=["c_key", "amount"],
        group_cols=["nation"],
        measures={"revenue": F.sum("amount"), "n": F.count(F.lit(1))},
        target_path=os.path.join(root, "mv"),
        checkpoint=os.path.join(root, "ck"),
        left_schema="c_key bigint, nation string",
        right_schema="c_key bigint, amount double",
    )


def _join_batches(spark, sf):
    schema = "_side string, c_key bigint, nation string, amount double"
    # batch 2 joins rows only batch 1's side segments hold, both ways
    rows = [
        [("l", 1, "DE", None), ("l", 2, "FR", None), ("r", 1, None, 10.0)],
        [("l", 3, "DE", None), ("r", 2, None, 5.0), ("r", 5, None, 7.0)],
        [("l", 5, "JP", None), ("r", 3, None, 1.0), ("r", 1, None, 2.0)],
    ]
    return [spark.createDataFrame(r, schema) for r in rows]


def _curation_sink(spark, sf, root):
    from event_store_spark.streaming.curation import CurationPipeline

    return CurationPipeline(
        spark, os.path.join(root, "cur"), os.path.join(root, "ck"), quota=30
    )


def _gate_sink(spark, sf, root):
    from event_store_spark.plans.dedup_index import DedupIndex
    from event_store_spark.streaming.neardup_winnow import WinnowDedupGate

    path = os.path.join(root, "ix")
    if os.path.exists(os.path.join(path, "meta.json")):
        idx = DedupIndex.open(spark, path)
    else:
        base = _docs(spark, sf).where(
            ~F.col("source").isin("src2", "src3") & (F.col("doc_id") < 250)
        )
        idx = DedupIndex.build(spark, base, path, "winnow")
    return WinnowDedupGate(idx, os.path.join(root, "out"), os.path.join(root, "ck"))


def _gate_rows(gate):
    out = os.path.join(gate.out_dir, "batch-*")
    return (
        _rows(gate.index.spark.read.parquet(out), "doc_id"),
        _rows(gate.index.signatures(), "doc_id", "part", "fp"),
    )


SINKS = {
    "typed_ingest": Sink(
        _typed_sink,
        lambda spark, sf: _thirds(load_table(spark, sf, "events"), "event_id"),
        lambda mat: _rows(mat.table(), "event_id", "key_name"),
    ),
    "join_view": Sink(
        _join_sink, _join_batches, lambda v: _rows(v.table(), "nation", "revenue", "n")
    ),
    "curation": Sink(
        _curation_sink,
        lambda spark, sf: _thirds(
            load_table(spark, sf, "documents").select(
                "doc_id", "source", "lang", "n_chars", "text"
            ),
            "doc_id",
        ),
        lambda pipe: _rows(pipe.table(), "doc_id"),
    ),
    "winnow_gate": Sink(
        _gate_sink,
        lambda spark, sf: _thirds(
            _docs(spark, sf).where(
                F.col("source").isin("src2", "src3") & (F.col("doc_id") < 250)
            ),
            "doc_id",
        ),
        _gate_rows,
    ),
}
#: one batch's side effects, in the order a batch meets them
EFFECTS = ("write", "marker", "ledger", "fold")
#: the rows a crash-free run over all three batches leaves, per sink
_ONE_PASS: dict = {}


def _arm_crash(monkeypatch, effect):
    """Returns ``arm()``: once called, the next ``effect`` raises instead
    of happening — a parquet write, a segment marker, the ledger (a
    ``_LEDGER`` or a versioned table's ``_CURRENT``) or a fold's ``_SNAP``
    flip."""
    from pyspark.sql.readwriter import DataFrameWriter

    state = {"armed": False}

    def hit(kind):
        if state["armed"] and kind == effect:
            state["armed"] = False
            raise OSError(f"injected crash at the {effect}")

    real_pointer, real_parquet = generations.write_pointer, DataFrameWriter.parquet

    def write_pointer(path, text):
        name = os.path.basename(path)
        hit(
            "marker" if name.startswith("_SEGMENT.")
            else "fold" if name == "_SNAP"
            else "ledger" if name in ("_LEDGER", "_CURRENT")
            else None
        )
        real_pointer(path, text)

    def parquet(self, *args, **kwargs):
        hit("write")
        return real_parquet(self, *args, **kwargs)

    monkeypatch.setattr(generations, "write_pointer", write_pointer)
    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    return lambda: state.update(armed=True)


@pytest.mark.parametrize(
    "name,effect",
    [
        (name, effect)
        for name in sorted(SINKS)
        for effect in EFFECTS
        # the gate's index segments never fold
        if (name, effect) != ("winnow_gate", "fold")
    ],
)
def test_crash_at_each_side_effect_of_a_batch_replays_to_one_pass(
    spark, sf_smoke, tmp_path, monkeypatch, name, effect
):
    """A crash at any side effect of a batch, then a restart on the same
    checkpoint that redelivers the batch and goes on, leaves the
    artifact equal to a crash-free run's."""
    monkeypatch.setattr(generations, "SEGMENTS_PER_FOLD", 2)
    sink = SINKS[name]
    batches = sink.batches(spark, sf_smoke)
    if name not in _ONE_PASS:
        clean = sink.make(spark, sf_smoke, str(tmp_path / "clean"))
        for i, batch in enumerate(batches):
            clean._merge(batch, i)
        _ONE_PASS[name] = sink.rows(clean)

    root = str(tmp_path / "crashed")
    arm = _arm_crash(monkeypatch, effect)
    sink.make(spark, sf_smoke, root)._merge(batches[0], 0)
    arm()
    with pytest.raises(OSError, match=f"injected crash at the {effect}"):
        sink.make(spark, sf_smoke, root)._merge(batches[1], 1)

    restarted = sink.make(spark, sf_smoke, root)
    for i in (1, 2):
        restarted._merge(batches[i], i)
    assert sink.rows(restarted) == _ONE_PASS[name]


# ------------------------------------------------------ uncommitted segments


def test_typed_table_hides_a_batch_its_ledger_did_not_commit(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """Batch 1's segment is marked, but its ledger write fails: the batch
    is not committed, so the typed table shows batch 0's events only."""
    events = load_table(spark, sf_smoke, "events")
    even, odd = (events.where(F.col("event_id") % 2 == i) for i in (0, 1))
    mat = _typed_sink(spark, sf_smoke, str(tmp_path))
    mat._merge(even, 0)
    arm = _arm_crash(monkeypatch, "ledger")
    arm()
    with pytest.raises(OSError, match="injected crash at the ledger"):
        mat._merge(odd, 1)
    assert os.path.exists(os.path.join(mat.target_path, "_SEGMENT.1"))
    assert _rows(mat.table(), "event_id") == _rows(even, "event_id")


def test_first_batch_without_its_ledger_commit_is_invisible(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """The sink writes its ledger (batch -1) when it starts, so a FIRST
    batch whose segment is marked but whose ledger write fails is not
    committed either: the typed table lists no segment (it listed the
    batch's 500 events while the ledger appeared only with the first
    commit). A started sink with nothing committed reads an empty table
    (``table()`` raised UNABLE_TO_INFER_SCHEMA before its first commit)."""
    from event_store_spark.streaming import eos

    events = load_table(spark, sf_smoke, "events")
    even = events.where(F.col("event_id") % 2 == 0)
    mat = _typed_sink(spark, sf_smoke, str(tmp_path))
    source = str(tmp_path / "source")
    os.makedirs(source)
    mat.start(spark.readStream.schema(events.schema).parquet(source)).awaitTermination()
    assert generations.read_ledger(mat.ledger)[1] == -1
    assert mat.table().count() == 0
    merge = eos.exactly_once(mat.checkpoint, mat.ledger, mat._apply)
    arm = _arm_crash(monkeypatch, "ledger")
    arm()
    with pytest.raises(OSError, match="injected crash at the ledger"):
        merge(even, 0)
    assert os.path.exists(os.path.join(mat.target_path, "_SEGMENT.0"))
    assert mat._log.paths() == []
    assert mat.table().count() == 0


def test_a_ledger_alone_is_no_version_yet(spark, tmp_path):
    """A versioned table whose ``_CURRENT`` holds only a sink's starting
    ledger has no version; its first publish is ``_v0`` and keeps the
    ledger. A ``_CURRENT`` from before ledgers holds none and raises."""
    table = VersionedTable(spark, str(tmp_path / "t"))
    generations.write_pointer(table.ledger, "lineage -1")
    assert table._current_version() is None
    table._publish(spark.range(3))
    assert table._current_version() == "_v0"
    assert generations.read_ledger(table.ledger) == ("lineage", -1)
    generations.write_pointer(table.ledger, "_v0")
    with pytest.raises(ValueError, match="holds no exactly-once ledger"):
        generations.read_ledger(table.ledger)


def test_additions_reader_hides_segments_above_the_ledger(
    spark, sf_smoke, tmp_path
):
    """An additions log whose ledger holds batch 0 serves batch 0's
    vectors only, though batch 1's segment is marked."""
    from event_store_spark.plans.vector_index import VectorIndex

    path = str(tmp_path / "ivf")
    VectorIndex.build(spark, sf_smoke, path, "ivf")
    adds = _ivf_adds(
        spark, tmp_path, VectorIndex.open(spark, path).rows(), 5_000_000
    )
    log = SegmentLog(spark, adds)
    generations.write_pointer(os.path.join(adds, generations.LEDGER), "lineage 0")
    log.write(
        1,
        spark.read.parquet(*log.paths()).withColumn(
            "vec_id", F.col("vec_id") + 1_000
        ),
        ("cell",),
    )
    served = VectorIndex.open(spark, path).rows(additions_path=adds)
    added = served.where(F.col("vec_id") >= 5_000_000)
    assert _rows(added, "vec_id") == [(5_000_000,), (5_000_001,), (5_000_002,)]


# ------------------------------------------------------ static discipline

#: the only modules that may write a publish pointer
_POINTER_WRITERS = {"plans/generations.py", "core/state.py"}
_POINTERS = {"_CURRENT", "CELLS", "CODES", "LIVE", "_SNAP", "_SEGMENT", "_LEDGER"}


def _callee(call):
    f = call.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def test_only_generations_publishes():
    """A module outside generations.py names a publish pointer only as the
    ``pointer=`` of a `GenerationPair`, so it cannot write (or stage) one
    itself. A new artifact kind therefore cannot skip the fsync."""
    pointers = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel in _POINTER_WRITERS:
            continue
        tree = ast.parse(path.read_text())
        handed = {
            id(kw.value)
            for call in ast.walk(tree)
            if isinstance(call, ast.Call) and _callee(call) == "GenerationPair"
            for kw in call.keywords
            if kw.arg == "pointer"
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and node.value.split(".")[0] in _POINTERS
                and id(node) not in handed
            ):
                pointers.add((rel, node.lineno, node.value))
    assert not pointers, pointers


#: the writers of the streams that keep their own (lineage, batch id)
#: bookkeeping instead of a ledger: the Kafka-source Subscription, whose
#: per-partition (lsn, id) cursors absorb an unseen checkpoint
_CURSOR_STREAMS = {
    "streaming/subscribe.py": {"Subscription._run_kafka"},
}
#: the modules that may read a checkpoint's lineage marker
_LINEAGE_READERS = {"streaming/eos.py", "streaming/lineage.py"}


def _functions(tree):
    """(qualified name, node) of every function, methods as Class.name."""
    for node in tree.body:
        if isinstance(node, ast.ClassDef):
            for item in node.body:
                if isinstance(item, ast.FunctionDef):
                    yield f"{node.name}.{item.name}", item
        elif isinstance(node, ast.FunctionDef):
            yield node.name, node


def test_every_stream_runs_through_the_exactly_once_wrapper():
    """Every ``.writeStream`` in the package hands ``foreachBatch`` a
    function built by `eos.exactly_once`, except the two streams that
    recover an unseen checkpoint from their own cursor. A new sink
    therefore cannot decide "already applied" from batch ids alone, nor
    use Spark's file sink (which skips a new checkpoint's batch 0)."""
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for name, fn in _functions(ast.parse(path.read_text())):
            if name in _CURSOR_STREAMS.get(rel, ()):
                continue
            wrapped = {
                node.targets[0].id
                for node in ast.walk(fn)
                if isinstance(node, ast.Assign)
                and isinstance(node.value, ast.Call)
                and _callee(node.value) == "exactly_once"
                and isinstance(node.targets[0], ast.Name)
            }
            ok = [
                call
                for call in ast.walk(fn)
                if isinstance(call, ast.Call)
                and _callee(call) == "foreachBatch"
                and call.args
                and (
                    (isinstance(call.args[0], ast.Call)
                     and _callee(call.args[0]) == "exactly_once")
                    or getattr(call.args[0], "id", None) in wrapped
                )
            ]
            streams = [
                node for node in ast.walk(fn)
                if isinstance(node, ast.Attribute) and node.attr == "writeStream"
            ]
            if len(ok) < len(streams):
                bad.append((rel, name))
    assert not bad, bad


def test_only_eos_reads_the_checkpoint_lineage():
    """No module outside `streaming/eos.py` and `streaming/lineage.py`
    calls ``checkpoint_lineage_id``: a consumer cannot mint a lineage
    and decide for itself which batches a new checkpoint has applied."""
    minted = [
        (rel, node.lineno)
        for path in sorted(PKG.rglob("*.py"))
        if (rel := path.relative_to(PKG).as_posix()) not in _LINEAGE_READERS
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call) and _callee(node) == "checkpoint_lineage_id"
    ]
    assert not minted, minted


def test_file_topic_consumers_start_no_stream():
    """The keyset consumers (`streaming/keyset.py`, the Replicator, and
    the Subscription outside its Kafka-source path) build no
    ``writeStream`` and pass no ``checkpointLocation``."""
    found = []
    for rel in ("streaming/keyset.py", "streaming/replicate.py", "streaming/subscribe.py"):
        for name, fn in _functions(ast.parse((PKG / rel).read_text())):
            if name in _CURSOR_STREAMS.get(rel, ()):
                continue
            found += [
                (rel, name, node.lineno)
                for node in ast.walk(fn)
                if (isinstance(node, ast.Attribute) and node.attr == "writeStream")
                or (isinstance(node, ast.Constant) and node.value == "checkpointLocation")
            ]
    assert not found, found


def _names(node) -> set[str]:
    """Names ``node`` computes with directly: a call's arguments are the
    callee's business, so the walk does not enter calls."""
    if isinstance(node, ast.Call):
        return set()
    found = {node.id} if isinstance(node, ast.Name) else set()
    for child in ast.iter_child_nodes(node):
        found |= _names(child)
    return found


def _compares_batch_id(fn) -> list[int]:
    """Lines of ``fn`` that compare a batch id (the ``batch_id`` name, or
    a name computed from it) with anything, other than an ``if`` whose
    body only raises (a guard against a caller bug, not a decision)."""
    tainted = {"batch_id"}
    grew = True
    while grew:
        grew = False
        for node in ast.walk(fn):
            if isinstance(node, ast.Assign) and _names(node.value) & tainted:
                for target in node.targets:
                    if isinstance(target, ast.Name) and target.id not in tainted:
                        tainted.add(target.id)
                        grew = True
    guards = {
        id(node.test)
        for node in ast.walk(fn)
        if isinstance(node, ast.If)
        and len(node.body) == 1
        and isinstance(node.body[0], ast.Raise)
    }
    return [
        node.lineno
        for node in ast.walk(fn)
        if isinstance(node, ast.Compare)
        and id(node) not in guards
        and _names(node) & tainted
    ]


def test_only_eos_decides_already_applied():
    """No module outside `streaming/eos.py` compares a batch id with
    anything: "already applied" is `eos.applied`'s decision alone."""
    found = [
        (path.relative_to(PKG).as_posix(), line)
        for path in sorted(PKG.rglob("*.py"))
        if path.relative_to(PKG).as_posix() != "streaming/eos.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.FunctionDef)
        for line in _compares_batch_id(node)
    ]
    assert not found, found


def test_index_maintenance_leaves_query_plans_alone():
    """Artifact maintenance publishes files and nothing else: the modules
    that write index generations or segments take nothing from the query
    registry, and no module under the package reads Spark's private
    status store."""
    for rel in ("plans/generations.py", "plans/dedup_index.py", "plans/ir.py"):
        taken = {
            alias.name
            for node in ast.walk(ast.parse((PKG / rel).read_text()))
            if isinstance(node, (ast.Import, ast.ImportFrom))
            for alias in node.names
            if alias.name.endswith("registry")
            or (getattr(node, "module", None) or "").endswith("registry")
        }
        assert not taken, (rel, taken)
    readers = [
        path.relative_to(PKG).as_posix()
        for path in sorted(PKG.rglob("*.py"))
        if "statusStore" in path.read_text()
    ]
    assert not readers, readers


#: the lease's module: the one home of the lock protocol's primitives
_LEASE_MODULE = "core/state.py"


def test_only_the_lease_takes_or_breaks_a_lock():
    """``os.O_EXCL``, ``os.link`` and the ``.stale.`` grave name appear
    only in the lease's module, and a state file is written only by its
    locked ``_AtomicJsonState._update``: a second copy of the lock
    protocol, or a state-file write outside the writer lease, fails."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text())
        locked = {
            id(node)
            for name, fn in _functions(tree)
            if rel == _LEASE_MODULE and name == "_AtomicJsonState._update"
            for node in ast.walk(fn)
        }
        for node in ast.walk(tree):
            primitive = rel != _LEASE_MODULE and (
                (
                    isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and node.value.id == "os"
                    and node.attr in ("O_EXCL", "link")
                )
                or (
                    isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and ".stale." in node.value
                )
            )
            unlocked_write = (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "_write"
                and id(node) not in locked
            )
            if primitive or unlocked_write:
                found.append((rel, node.lineno))
    assert not found, found
