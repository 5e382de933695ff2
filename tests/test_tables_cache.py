"""`tables.memo` and `tables.side_table`: the plans layer's only caches.

- a stopped session's entries are dropped on the next miss;
- a side table is keyed by its source's data files, so an in-place
  rewrite of a directory-form corpus builds a fresh one;
- losing the publish race keeps the winner, any other rename failure
  raises;
- no other module keeps a session memo, renames into place or picks a
  temp-dir location itself (a static check, no Spark).
"""

from __future__ import annotations

import ast
import collections
import errno
import os
import pathlib
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from event_store_spark import tables
from event_store_spark.tables import forget, load_table, side_table, side_table_dir

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "event_store_spark"
SF = "/root/testdata/sf0.001"


def _write_docs(corpus: str, texts: list[str]) -> str:
    """A directory-form documents table with one part file; returns it."""
    os.makedirs(corpus, exist_ok=True)
    part = os.path.join(corpus, "part-00000.parquet")
    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame(
                {"doc_id": range(1, len(texts) + 1), "text": texts}
            ),
            preserve_index=False,
        ),
        part,
    )
    return part


# ----------------------------------------------------------- static rules


def _calls(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
                yield node, f"{f.value.id}.{f.attr}"
            elif isinstance(f, ast.Name):
                yield node, f.id


def test_derived_artifacts_cache_only_through_tables():
    """Only tables.py keeps a session-keyed memo, nothing under plans/
    publishes by rename, and only tables.py and shipping.py choose a
    temp-dir location."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for node, name in _calls(ast.parse(path.read_text())):
            if name.endswith("WeakKeyDictionary") and rel != "tables.py":
                found.append((rel, node.lineno, name))
            if name == "os.rename" and rel.startswith("plans/"):
                found.append((rel, node.lineno, name))
            if name.endswith("gettempdir") and rel not in (
                "tables.py",
                "shipping.py",
            ):
                found.append((rel, node.lineno, name))
    assert not found, found


#: materializing methods the no-hidden-cache rule tracks
_MATERIALIZE = ("cache", "persist", "localCheckpoint")

#: caches allowed outside a memo build without an unpersist in the same
#: function, with the reason each may stay
HIDDEN_CACHE_EXCEPTIONS = {
    # the ad-hoc candidate corpus is referenced three times inside one
    # plan; the registered queries pass the persisted verify sketches and
    # never reach it
    ("plans/jaccard.py", "exact_jaccard"),
}


def _materializations():
    """``(file, function, method, in_memo_build, unpersisted)`` for every
    ``.cache()``/``.persist()``/``.localCheckpoint()`` under plans/,
    operators/ and tables.py. ``function`` is the enclosing def's dotted
    name; a call sits in a memo build when its enclosing function (a def
    or a lambda) is the build argument of a ``memo(...)`` call, and is
    unpersisted when its enclosing def calls ``.unpersist()``."""
    paths = sorted(PKG.glob("plans/*.py")) + sorted(PKG.glob("operators/*.py"))
    out = []
    for path in paths + [PKG / "tables.py"]:
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text())
        builds = set()  # (scope, def name) and lambda nodes passed to memo

        def scan(node, scope, owner, fn_node):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, ast.Call):
                    f = child.func
                    name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
                    if name == "memo" and len(child.args) > 2:
                        b = child.args[2]
                        builds.add(b if isinstance(b, ast.Lambda) else (scope, getattr(b, "id", None)))
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    inner = f"{scope}.{child.name}" if scope else child.name
                    defs.append((scope, child))
                    scan(child, inner, child, child)
                elif isinstance(child, ast.Lambda):
                    scan(child, scope, owner, child)
                else:
                    if (
                        isinstance(child, ast.Call)
                        and isinstance(child.func, ast.Attribute)
                        and child.func.attr in _MATERIALIZE
                    ):
                        calls.append((child, scope, owner, fn_node))
                    scan(child, scope, owner, fn_node)

        defs, calls = [], []
        scan(tree, "", tree, tree)
        build_defs = {id(d) for scope, d in defs if (scope, d.name) in builds}
        for node, scope, owner, fn_node in calls:
            in_build = fn_node in builds or id(fn_node) in build_defs
            unpersisted = any(
                isinstance(c, ast.Call)
                and isinstance(c.func, ast.Attribute)
                and c.func.attr == "unpersist"
                for c in ast.walk(owner)
            )
            out.append((rel, scope, node.func.attr, in_build, unpersisted))
    return out


def test_no_hidden_session_caches():
    """Every ``.cache()``/``.persist()`` of the plans layer either sits in
    a `tables.memo` build (released with its corpus generation) or is
    unpersisted in the same function: Spark's CacheManager would otherwise
    keep it, deduplicated by plan, for the rest of the session."""
    hidden = sorted(
        (rel, fn)
        for rel, fn, method, in_build, unpersisted in _materializations()
        if method != "localCheckpoint" and not (in_build or unpersisted)
        and (rel, fn) not in HIDDEN_CACHE_EXCEPTIONS
    )
    assert not hidden, hidden


#: every materialization of the plans layer that survived its measured
#: verdict, as (file, function, method, count): a new one is a visible diff
SURVIVING = [
    ("operators/bpe.py", "bpe_train", "localCheckpoint", 1),
    ("operators/graph.py", "connected_components", "cache", 1),
    ("operators/graph.py", "connected_components", "localCheckpoint", 3),
    ("operators/graph.py", "label_propagation", "cache", 1),
    ("operators/graph.py", "label_propagation", "localCheckpoint", 3),
    ("operators/graph.py", "pagerank", "cache", 2),
    ("operators/graph.py", "pagerank", "localCheckpoint", 4),
    ("plans/graphq.py", "_triangle_graph.build", "cache", 4),
    ("plans/graphq.py", "pagerank_events", "localCheckpoint", 1),
    ("plans/hnsw.py", "_hnsw_graph.build", "cache", 1),
    ("plans/incremental.py", "_verified_matches.build", "cache", 1),
    ("plans/ivf.py", "_ivf_index.build", "cache", 1),
    ("plans/jaccard.py", "exact_jaccard", "cache", 1),
    ("plans/llm.py", "_minhash_candidates.build", "cache", 1),
    ("plans/llm.py", "_minhash_signatures.build", "cache", 1),
    ("plans/llm.py", "_simhash_blocked64.build", "cache", 1),
    ("plans/pipeline7.py", "_bpe_build.build", "localCheckpoint", 2),
    ("plans/pq.py", "_pq_index.build", "cache", 1),
    ("plans/tokenized.py", "source_gram_comatrix.build", "cache", 1),
    ("plans/tokenized.py", "source_gram_masks.build", "cache", 1),
    ("plans/tokenized.py", "source_gram_sets", "cache", 1),
]


def test_surviving_materializations_are_pinned():
    found = collections.Counter(
        (rel, fn, method) for rel, fn, method, _, _ in _materializations()
    )
    assert sorted((*k, n) for k, n in found.items()) == SURVIVING


# ------------------------------------------------------------- side_table


def test_side_table_rename_failure_raises_and_race_keeps_winner(
    tmp_path, monkeypatch
):
    sf = str(tmp_path / "sf")
    _write_docs(os.path.join(sf, "documents.parquet"), ["a b c"])

    def write(out):
        os.makedirs(out)
        with open(os.path.join(out, "who"), "w") as fh:
            fh.write("loser")

    real_rename = os.rename

    def cross_device(src, dst):
        raise OSError(errno.EXDEV, "simulated rename failure")

    monkeypatch.setattr(os, "rename", cross_device)
    with pytest.raises(OSError, match="simulated rename failure"):
        side_table(None, sf, "documents", "t-fail", write)
    final = side_table_dir(sf, "documents", "t-fail")
    assert not os.path.exists(final)
    assert not os.listdir(os.path.dirname(final))  # staging cleaned up

    def lose_race(src, dst):
        os.makedirs(dst)
        with open(os.path.join(dst, "who"), "w") as fh:
            fh.write("winner")
        raise OSError(errno.ENOTEMPTY, "directory not empty")

    monkeypatch.setattr(os, "rename", lose_race)
    final = side_table(None, sf, "documents", "t-race", write)
    monkeypatch.setattr(os, "rename", real_rename)
    with open(os.path.join(final, "who")) as fh:
        assert fh.read() == "winner"
    assert os.listdir(os.path.dirname(final)) == ["t-race"]


def test_side_table_unreadable_source_writes_nothing(tmp_path):
    def write(out):
        raise AssertionError("wrote a side table for a missing source")

    with pytest.raises(OSError):
        side_table(None, str(tmp_path / "absent"), "documents", "t", write)


def _rewrite_in_place(part: str, texts: list[str]) -> None:
    """Replace the corpus part file under the same name, with a newer
    mtime."""
    _write_docs(os.path.dirname(part), texts)
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))


def test_in_place_rewrite_rebuilds_verify_sketches(spark, tmp_path):
    from event_store_spark.plans.jaccard import verify_sketches

    sf = str(tmp_path / "sf")
    part = _write_docs(os.path.join(sf, "documents.parquet"), ["a b c d"])
    first = verify_sketches(spark, sf)
    assert [r["_n"] for r in first.collect()] == [2]

    _rewrite_in_place(part, ["a b c d e f", "x y z"])
    again = verify_sketches(spark, sf)
    assert sorted(r["_n"] for r in again.collect()) == [1, 4]


def test_in_place_rewrite_rebuilds_bm25_index(spark, tmp_path):
    from event_store_spark.plans.ir import bm25_index

    sf = str(tmp_path / "sf")
    part = _write_docs(os.path.join(sf, "documents.parquet"), ["spark table"])
    assert bm25_index(spark, sf).stats()["n_docs"] == 1

    _rewrite_in_place(part, ["spark table", "hash spark", "x"])
    idx = bm25_index(spark, sf)
    assert idx.stats()["n_docs"] == 3
    assert idx.postings().where("t = 'hash'").count() == 1


def test_in_place_rewrite_drops_the_corpus_memo(spark, tmp_path):
    """Rewriting a fixture table in place drops its corpus's memo entries
    and their cached data: the hot table, the loaded table and q36 read
    the new rows with no `forget` (all three kept the old 1 000)."""
    from event_store_spark.plans import QUERIES
    from event_store_spark.tables import hot_table

    sf, fresh = str(tmp_path / "sf"), str(tmp_path / "fresh")
    os.makedirs(sf)
    os.makedirs(fresh)
    events = os.path.join(sf, "events.parquet")
    shutil.copyfile(os.path.join(SF, "events.parquet"), events)
    assert hot_table(spark, sf, "events").count() == 1000
    assert load_table(spark, sf, "events").count() == 1000
    old = QUERIES["q36"](spark, sf).collect()

    half = pq.read_table(events).slice(0, 500)
    pq.write_table(half, events)
    st = os.stat(events)
    os.utime(events, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    pq.write_table(half, os.path.join(fresh, "events.parquet"))
    assert hot_table(spark, sf, "events").count() == 500
    assert load_table(spark, sf, "events").count() == 500
    got = QUERIES["q36"](spark, sf).collect()
    assert got == QUERIES["q36"](spark, fresh).collect()
    assert got != old


# ------------------------------------------------------------------- memo


def test_memo_caches_none_and_keys_by_builder(spark):
    calls = []

    def build():
        calls.append(1)
        return None

    key = (test_memo_caches_none_and_keys_by_builder, "k")
    other = (test_memo_caches_none_and_keys_by_builder.__name__, "k")
    try:
        assert tables.memo(spark, key, build) is None
        assert tables.memo(spark, key, build) is None
        assert calls == [1]
        assert tables.memo(spark, other, lambda: 7) == 7
    finally:
        forget(spark, key)
        forget(spark, other)


_STOPPED_SESSION_CHILD = """
from pyspark.sql import SparkSession

from event_store_spark import tables


def session():
    return (
        SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "512m")
        .getOrCreate()
    )


old = session()
tables.memo(old, ("t", 1), lambda: old.range(3).cache())
old.stop()
new = session()
assert new is not old
tables.memo(new, ("t", 1), lambda: new.range(3))
assert list(tables._SESSION_MEMO) == [new], tables._SESSION_MEMO
new.stop()
print("ok")
"""


def test_stopped_session_entries_are_released(tmp_path):
    """A memoized DataFrame holds its session, so entries outlive the
    session object; the store drops them once its context has stopped.
    Runs in a child process: stopping the suite's shared session is not
    an option."""
    env = dict(os.environ, PYTHONPATH=str(ROOT))
    out = subprocess.run(
        [sys.executable, "-c", _STOPPED_SESSION_CHILD],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().endswith("ok")
