"""`plans/generations.py`: the one publish path for versioned artifacts.

- a one-token pointer (the early IVF/PQ format) still opens;
- a crash at the commit point (the pointer write) of any publish leaves
  readers on the previous generation, a retry publishes, and GC then
  leaves at most the N-1 generation (pairs) or current + 2 versions
  (versioned tables) on disk;
- no module outside `generations.py` can publish a pointer on its own
  (a static check, no Spark).
"""

from __future__ import annotations

import ast
import datetime
import json
import os
import pathlib
from typing import Callable, NamedTuple

import pytest
from pyspark.sql import functions as F

from event_store_spark.plans import generations
from event_store_spark.plans.generations import GenerationPair, VersionedTable

PKG = pathlib.Path(__file__).resolve().parent.parent / "event_store_spark"


# ------------------------------------------------------ one-token pointer


def test_one_token_pointer_reads_as_dir_plus_original_meta(tmp_path):
    (tmp_path / "CELLS").write_text("cells")
    gp = GenerationPair(str(tmp_path), "cells", "centroids.json", "CELLS")
    assert gp.live() == ("cells", "centroids.json")


def test_one_token_pointer_indexes_open_and_search(spark, sf_smoke, tmp_path):
    """IVF and PQ indexes whose pointer names only the bulk dir (the
    early format) load and serve through both the module loaders and
    the `VectorIndex` facade, exactly as before the pointer existed."""
    from event_store_spark.plans.ivf import (
        _ivf_index,
        load_ivf_index,
        save_ivf_index,
    )
    from event_store_spark.plans.pq import load_pq_index, save_pq_index
    from event_store_spark.plans.vector_index import VectorIndex

    _, assigned = _ivf_index(spark, sf_smoke, "full")
    qv = [float(x) for x in assigned.where(F.col("vec_id") == 0).first()["v"]]
    for kind, save, load, pointer, bulk in (
        ("ivf", save_ivf_index, load_ivf_index, "CELLS", "cells"),
        ("pq", save_pq_index, load_pq_index, "CODES", "codes"),
    ):
        path = str(tmp_path / kind)
        save(spark, sf_smoke, path)
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
    #: the pair under test, or the versioned table under test
    target: GenerationPair | VersionedTable


def _rows(df, *cols):
    return sorted(map(tuple, df.select(*cols).collect()))


def _ivf_adds(spark, tmp_path, assigned, offset):
    adds = str(tmp_path / "adds")
    assigned.where(F.col("vec_id") < 3).select(
        (F.col("vec_id") + offset).alias("vec_id"), "v", "cell"
    ).write.mode("overwrite").parquet(adds)
    return adds


def _ivf_retrain(spark, tmp_path, sf):
    from event_store_spark.plans.ivf import load_ivf_index, save_ivf_index

    path = str(tmp_path / "ivf")
    save_ivf_index(spark, sf, path)
    save_ivf_index(spark, sf, path)

    def read():
        centroids, assigned = load_ivf_index(spark, path)
        return centroids, _rows(assigned, "vec_id", "cell")

    return Case(
        lambda: save_ivf_index(spark, sf, path),
        read,
        GenerationPair(path, "cells", "centroids.json", "CELLS"),
    )


def _ivf_compact(spark, tmp_path, sf):
    from event_store_spark.plans.ivf import (
        compact_ivf_index,
        load_ivf_index,
        save_ivf_index,
    )

    path = str(tmp_path / "ivf")
    save_ivf_index(spark, sf, path)
    adds = _ivf_adds(spark, tmp_path, load_ivf_index(spark, path)[1], 3_000_000)
    compact_ivf_index(spark, path, adds)

    def read():
        centroids, assigned = load_ivf_index(spark, path)
        return centroids, _rows(assigned, "vec_id", "cell")

    return Case(
        lambda: compact_ivf_index(spark, path, adds),
        read,
        GenerationPair(path, "cells", "centroids.json", "CELLS"),
    )


def _pq_retrain(spark, tmp_path, sf):
    from event_store_spark.plans.pq import load_pq_index, save_pq_index

    path = str(tmp_path / "pq")
    save_pq_index(spark, sf, path)
    save_pq_index(spark, sf, path)

    def read():
        book, codes = load_pq_index(spark, path)
        return book, _rows(codes, "vec_id", "codes")

    return Case(
        lambda: save_pq_index(spark, sf, path),
        read,
        GenerationPair(path, "codes", "codebook.json", "CODES"),
    )


def _sq8_retrain(spark, tmp_path, sf):
    from event_store_spark.plans.pipeline5 import load_sq8_index, save_sq8_index

    path = str(tmp_path / "sq8")
    save_sq8_index(spark, sf, path)
    save_sq8_index(spark, sf, path)

    def read():
        limits, codes = load_sq8_index(spark, path)
        return limits, _rows(codes, "vec_id", "q")

    return Case(
        lambda: save_sq8_index(spark, sf, path),
        read,
        GenerationPair(path, "codes", "limits.json", "CODES"),
    )


def _hnsw_compact(spark, tmp_path, sf):
    from event_store_spark.plans.hnsw import (
        compact_hnsw_index,
        load_hnsw_index,
        save_hnsw_index,
    )

    path = str(tmp_path / "hnsw")
    save_hnsw_index(spark, sf, path)
    _, graph = load_hnsw_index(spark, path)
    adds = str(tmp_path / "adds")
    graph.where(F.col("vec_id") < 3).select(
        "cell", (F.col("vec_id") + 4_000_000).alias("vec_id"), "v"
    ).write.parquet(adds)
    compact_hnsw_index(spark, path, adds)

    def read():
        centroids, graph = load_hnsw_index(spark, path)
        return centroids, _rows(graph, "vec_id", "cell", "level")

    return Case(
        lambda: compact_hnsw_index(spark, path, adds),
        read,
        GenerationPair(path, "graph", "hnsw.json"),
    )


def _docs(spark, sf):
    from event_store_spark.tables import load_table

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
}


def _live(target):
    if isinstance(target, GenerationPair):
        return target.live()
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
    else:
        assert target.versions() == ["_v1", "_v2", "_v3"]
        assert live_after == "_v3"


# ------------------------------------------------------ static discipline

#: the only modules that may write a publish pointer
_POINTER_WRITERS = {"plans/generations.py", "core/state.py"}
_POINTERS = {"_CURRENT", "CELLS", "CODES", "LIVE"}


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
