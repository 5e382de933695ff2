"""Debezium CDC materializer (`streaming/cdc.py`): envelope parsing,
per-key winner folding, cross-batch ordering, tombstone semantics,
pointer versioning, and replay idempotence."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from event_store_spark.streaming.cdc import CdcMaterializer

ROW = "id bigint, name string, amount bigint"


def _env(op, ts, seq, row=None, before=None):
    return json.dumps(
        {"op": op, "ts_ms": ts, "seq": seq, "after": row, "before": before}
    )


def _mat(spark, tmp_path):
    return CdcMaterializer(
        spark,
        row_schema=ROW,
        keys=["id"],
        target_path=str(tmp_path / "tbl"),
        checkpoint=str(tmp_path / "ck"),
    )


def _write_batch(spark, src, rows, part):
    spark.createDataFrame([(r,) for r in rows], "value string").coalesce(
        1
    ).write.mode("append").parquet(src)


def _run(spark, mat, src):
    stream = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = mat.start(mat.parse(stream))
    q.awaitTermination(240)


def test_cdc_materializes_inserts_updates_deletes(spark, tmp_path):
    src = str(tmp_path / "src")
    batch1 = [
        _env("c", 100, 1, {"id": 1, "name": "a", "amount": 10}),
        _env("c", 100, 2, {"id": 2, "name": "b", "amount": 20}),
        _env("c", 100, 3, {"id": 3, "name": "c", "amount": 30}),
        # out-of-order WITHIN the batch: the ts=120 update must win
        _env("u", 120, 5, {"id": 2, "name": "b2", "amount": 22}),
        _env("u", 110, 4, {"id": 2, "name": "b1", "amount": 21}),
    ]
    batch2 = [
        _env("d", 200, 6, before={"id": 1, "name": "a", "amount": 10}),
        _env("u", 210, 7, {"id": 3, "name": "c2", "amount": 33}),
        # LATE update for the deleted key, stamped BEFORE the delete:
        # must NOT resurrect id=1 (tombstone outranks it)
        _env("u", 150, 8, {"id": 1, "name": "zombie", "amount": 99}),
        _env("c", 220, 9, {"id": 4, "name": "d", "amount": 40}),
    ]
    _write_batch(spark, src, batch1, 0)
    _write_batch(spark, src, batch2, 1)
    mat = _mat(spark, tmp_path)
    _run(spark, mat, src)

    rows = {r["id"]: r for r in mat.table().select("id", "_row.*", "ts_ms").collect()}
    assert set(rows) == {2, 3, 4}
    assert rows[2]["name"] == "b2" and rows[2]["amount"] == 22
    assert rows[3]["name"] == "c2"
    assert rows[4]["name"] == "d"
    # the tombstone is retained (full version dir), only filtered on read
    current = mat._current_version()
    full = {r["id"]: r for r in mat._full(current).collect()}
    assert full[1]["_deleted"] and full[1]["ts_ms"] == 200


def test_cdc_replay_is_idempotent_and_versions_flip(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(
        spark, src, [_env("c", 1, 1, {"id": 7, "name": "x", "amount": 1})], 0
    )
    mat = _mat(spark, tmp_path)
    _run(spark, mat, src)
    v1 = mat._current_version()
    before = sorted(tuple(r) for r in mat.table().collect())

    # a SECOND query instance over the same checkpoint re-processes
    # nothing; state unchanged
    _run(spark, mat, src)
    assert mat._current_version() == v1
    assert sorted(tuple(r) for r in mat.table().collect()) == before

    # a new change flips to a new version and merges only the touched key
    _write_batch(
        spark, src, [_env("u", 2, 2, {"id": 7, "name": "y", "amount": 2})], 1
    )
    _run(spark, mat, src)
    assert mat._current_version() != v1
    got = mat.table().select("_row.name").collect()
    assert [r["name"] for r in got] == ["y"]


def test_cdc_empty_table_has_parse_schema(spark, tmp_path):
    mat = _mat(spark, tmp_path)
    t = mat.table()
    assert t.count() == 0
    assert "id" in t.columns and "_row" in t.columns and "ts_ms" in t.columns


def test_cdc_malformed_envelope_fails_loudly(spark, tmp_path):
    src = str(tmp_path / "bad")
    _write_batch(spark, src, ['{"op": "z", "ts_ms": 1}'], 0)
    mat = _mat(spark, tmp_path)
    with pytest.raises(Exception, match="malformed|StreamingQuery"):
        stream = (
            spark.readStream.schema("value string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = mat.start(mat.parse(stream))
        q.awaitTermination(240)


def test_cdc_time_travel_to_retained_version(spark, tmp_path):
    """A superseded snapshot within the retention window reads back the
    pre-update state; unknown versions fail loudly."""
    src = str(tmp_path / "tt")
    _write_batch(spark, src, [_env("c", 1, 1, {"id": 5, "name": "v1", "amount": 1})], 0)
    mat = _mat(spark, tmp_path)
    _run(spark, mat, src)
    v0 = mat._current_version()
    _write_batch(spark, src, [_env("u", 2, 2, {"id": 5, "name": "v2", "amount": 2})], 1)
    _run(spark, mat, src)
    assert mat._current_version() != v0 and v0 in mat.versions()
    assert [r["name"] for r in mat.table().select("_row.name").collect()] == ["v2"]
    assert [r["name"] for r in mat.table(version=v0).select("_row.name").collect()] == ["v1"]
    with pytest.raises(ValueError, match="unknown CDC version"):
        mat.table(version="_v999")


def test_cdc_equal_stamp_tie_is_deterministic(spark, tmp_path):
    """Two updates to one key with identical (ts_ms, seq): the winner is
    decided by the content total-order (xxhash64 of the row struct), so
    every replay/partitioning rebuilds the SAME state (ADVICE r5 — the
    pre-fix window tied only on _deleted and picked an arbitrary row)."""
    rows = [
        _env("u", 7, 3, {"id": 1, "name": "a", "amount": 10}),
        _env("u", 7, 3, {"id": 1, "name": "b", "amount": 20}),
    ]
    winners = []
    for rep in range(2):
        src = str(tmp_path / f"tie{rep}")
        # opposite input orders across reps: winner must not depend on order
        _write_batch(spark, src, rows if rep == 0 else rows[::-1], 0)
        mat = CdcMaterializer(
            spark,
            row_schema=ROW,
            keys=["id"],
            target_path=str(tmp_path / f"tbl{rep}"),
            checkpoint=str(tmp_path / f"ck{rep}"),
        )
        _run(spark, mat, src)
        got = mat.table().select("_row.name").collect()
        assert len(got) == 1
        winners.append(got[0]["name"])
    assert winners[0] == winners[1]
    # and a delete still outranks an equal-stamped update
    src = str(tmp_path / "tied")
    _write_batch(
        spark,
        src,
        [
            _env("u", 7, 3, {"id": 1, "name": "a", "amount": 10}),
            _env("d", 7, 3, before={"id": 1, "name": "a", "amount": 10}),
        ],
        0,
    )
    mat = _mat(spark, tmp_path)
    _run(spark, mat, src)
    assert mat.table().count() == 0


def test_cdc_tombstone_gc_drops_only_aged_deletes(spark, tmp_path):
    """gc_tombstones removes tombstones older than the lateness window and
    nothing else; a late update with a stamp NEWER than a surviving
    tombstone still loses (semantics preserved), and the GC'd state
    publishes as a new pointer version."""
    src = str(tmp_path / "src")
    _write_batch(
        spark,
        src,
        [
            _env("c", 10, 1, {"id": 1, "name": "a", "amount": 1}),
            _env("c", 10, 1, {"id": 2, "name": "b", "amount": 2}),
            _env("d", 20, 2, before={"id": 1, "name": "a", "amount": 1}),   # old tombstone
            _env("d", 900, 3, before={"id": 2, "name": "b", "amount": 2}),  # recent tombstone
        ],
        0,
    )
    mat = _mat(spark, tmp_path)
    _run(spark, mat, src)
    assert mat.table().count() == 0  # both deleted
    v_before = mat._current_version()

    dropped = mat.gc_tombstones(older_than_ms=500)
    assert dropped == 1
    assert mat._current_version() != v_before
    # key 2's tombstone survived: a late update stamped BEFORE it still loses
    _write_batch(
        spark, src, [_env("u", 850, 1, {"id": 2, "name": "late", "amount": 9})], 1
    )
    _run(spark, mat, src)
    assert [r.id for r in mat.table().select("id").collect()] == []
    # no-op when nothing qualifies
    assert mat.gc_tombstones(older_than_ms=500) == 0


def test_cdc_gc_keeps_null_stamped_live_rows(spark, tmp_path):
    """ADVICE r6: with a NULL ts_ms, the `dead` predicate evaluates NULL —
    excluded from where(dead) AND where(~dead), so the rewrite silently
    DELETED a live row. NULL-stamped rows must survive GC untouched
    (there is no evidence their lateness window has passed)."""
    src = str(tmp_path / "src")
    _write_batch(
        spark,
        src,
        [
            _env("c", None, 1, {"id": 1, "name": "nullstamp", "amount": 1}),
            _env("c", 10, 1, {"id": 2, "name": "b", "amount": 2}),
            _env("d", 20, 2, before={"id": 2, "name": "b", "amount": 2}),
        ],
        0,
    )
    mat = _mat(spark, tmp_path)
    _run(spark, mat, src)
    assert [r.id for r in mat.table().select("id").collect()] == [1]

    dropped = mat.gc_tombstones(older_than_ms=500)
    assert dropped == 1  # only key 2's aged tombstone
    # the NULL-stamped live row is still materialized
    assert [r.id for r in mat.table().select("id").collect()] == [1]
    full = mat._full(mat._current_version())
    assert full.count() == 1


def test_cdc_stream_batch_after_tombstone_gc_is_applied(spark, tmp_path):
    """A tombstone GC is a publish outside the stream: it keeps the
    stream's exactly-once ledger, so the next stream batch still
    applies (a GC version named after a batch id made that batch look
    already applied, and its change never appeared)."""
    src = str(tmp_path / "src")
    _write_batch(
        spark,
        src,
        [
            _env("c", 10, 1, {"id": 1, "name": "a", "amount": 1}),
            _env("d", 20, 2, before={"id": 1, "name": "a", "amount": 1}),
        ],
        0,
    )
    mat = _mat(spark, tmp_path)
    _run(spark, mat, src)
    assert mat.gc_tombstones(older_than_ms=500) == 1
    gc_version = mat._current_version()

    _write_batch(
        spark, src, [_env("c", 30, 3, {"id": 7, "name": "new", "amount": 7})], 1
    )
    _run(spark, mat, src)
    assert mat._current_version() != gc_version
    assert [r.id for r in mat.table().select("id").collect()] == [7]
