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
import errno
import os
import pathlib
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


def _rewrite_in_place(spark, sf: str, part: str, texts: list[str]) -> None:
    """Replace the corpus part file under the same name and start over
    as a new session would: no memo entries, no cached file listing."""
    _write_docs(os.path.dirname(part), texts)
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    spark.catalog.refreshByPath(os.path.dirname(part))


def test_in_place_rewrite_rebuilds_verify_sketches(spark, tmp_path):
    from event_store_spark.plans.jaccard import verify_sketches

    sf = str(tmp_path / "sf")
    part = _write_docs(os.path.join(sf, "documents.parquet"), ["a b c d"])
    first = verify_sketches(spark, sf)
    assert [r["_n"] for r in first.collect()] == [2]

    _rewrite_in_place(spark, sf, part, ["a b c d e f", "x y z"])
    forget(spark, (load_table, sf, "documents"))
    forget(spark, (verify_sketches, sf, 256))
    again = verify_sketches(spark, sf)
    assert sorted(r["_n"] for r in again.collect()) == [1, 4]


def test_in_place_rewrite_rebuilds_bm25_index(spark, tmp_path):
    from event_store_spark.plans.ir import bm25_index

    sf = str(tmp_path / "sf")
    part = _write_docs(os.path.join(sf, "documents.parquet"), ["spark table"])
    assert bm25_index(spark, sf).stats()["n_docs"] == 1

    _rewrite_in_place(spark, sf, part, ["spark table", "hash spark", "x"])
    forget(spark, (load_table, sf, "documents"))
    forget(spark, (bm25_index, sf))
    idx = bm25_index(spark, sf)
    assert idx.stats()["n_docs"] == 3
    assert idx.postings().where("t = 'hash'").count() == 1


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
