"""JoinAggregateView (`streaming/ivm.py`): the delta rule must make the
incrementally-maintained join aggregate equal a full recompute after
every batch, under interleaved two-side deltas and replays."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from event_store_spark.plans import generations
from event_store_spark.plans.generations import SegmentLog
from event_store_spark.streaming.ivm import JoinAggregateView

CUST = [  # c_key, nation
    (1, "DE"), (2, "DE"), (3, "FR"), (4, "JP"),
]
ORDERS = [  # o_key, c_key, amount
    (10, 1, 100.0), (11, 2, 50.0), (12, 3, 75.0),
    (13, 1, 25.0), (14, 4, 10.0), (15, 3, 5.0),
]


def _tagged(spark, custs, orders):
    rows = [("l", c, n, None, None) for c, n in custs] + [
        ("r", c, None, o, a) for o, c, a in orders
    ]
    return spark.createDataFrame(
        rows,
        "_side string, c_key bigint, nation string, o_key bigint, amount double",
    )


def _view(spark, tmp_path, **kw):
    return JoinAggregateView(
        spark,
        join_keys=["c_key"],
        left_cols=["c_key", "nation"],
        right_cols=["c_key", "o_key", "amount"],
        group_cols=["nation"],
        measures={
            "revenue": F.sum("amount"),
            "n_orders": F.count(F.lit(1)),
        },
        target_path=str(tmp_path / "mv"),
        checkpoint=str(tmp_path / "ck"),
        left_schema="c_key bigint, nation string",
        right_schema="c_key bigint, o_key bigint, amount double",
        **kw,
    )


def _full_recompute(spark, custs, orders):
    c = spark.createDataFrame(custs, "c_key bigint, nation string")
    o = spark.createDataFrame(orders, "o_key bigint, c_key bigint, amount double")
    return {
        (r.nation): (r.revenue, r.n_orders)
        for r in c.join(o, "c_key")
        .groupBy("nation")
        .agg(F.sum("amount").alias("revenue"), F.count(F.lit(1)).alias("n_orders"))
        .collect()
    }


def _run(spark, view, src):
    stream = (
        spark.readStream.schema(
            "_side string, c_key bigint, nation string, o_key bigint, amount double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = view.start(stream)
    q.awaitTermination(240)


def test_ivm_matches_full_recompute_across_interleaved_batches(
    spark, tmp_path
):
    """Four delta batches (customers first, then orders, then BOTH sides
    in one batch, then late orders for early customers): after the run
    the view equals the from-scratch join aggregate."""
    src = str(tmp_path / "src")
    batches = [
        _tagged(spark, CUST[:2], []),                 # ΔR only
        _tagged(spark, [], ORDERS[:2]),               # ΔS only (needs R_pre)
        _tagged(spark, CUST[2:], ORDERS[2:4]),        # both sides + ΔR⋈ΔS
        _tagged(spark, [], ORDERS[4:]),               # late orders
    ]
    for b in batches:
        b.coalesce(1).write.mode("append").parquet(src)
    view = _view(spark, tmp_path)
    _run(spark, view, src)

    got = {
        r.nation: (r.revenue, r.n_orders) for r in view.table().collect()
    }
    assert got == _full_recompute(spark, CUST, ORDERS)


def test_ivm_replay_is_idempotent(spark, tmp_path):
    """A second query instance over the same checkpoint must leave the
    view AND the side snapshots unchanged; a genuinely new delta then
    merges correctly on top."""
    src = str(tmp_path / "src")
    _tagged(spark, CUST, ORDERS[:3]).coalesce(1).write.parquet(src)
    view = _view(spark, tmp_path)
    _run(spark, view, src)
    before = {
        r.nation: (r.revenue, r.n_orders) for r in view.table().collect()
    }
    assert before == _full_recompute(spark, CUST, ORDERS[:3])

    _run(spark, view, src)  # replay: no new files
    again = {
        r.nation: (r.revenue, r.n_orders) for r in view.table().collect()
    }
    assert again == before

    _tagged(spark, [], ORDERS[3:]).coalesce(1).write.mode("append").parquet(src)
    _run(spark, view, src)
    final = {
        r.nation: (r.revenue, r.n_orders) for r in view.table().collect()
    }
    assert final == _full_recompute(spark, CUST, ORDERS)


def test_ivm_delta_join_costs_scale_with_delta(spark, tmp_path):
    """The refresh never re-reads both full sides: the delta sides ride
    broadcasts in the delta-rule plan (the structural claim behind
    'cost proportional to the change')."""
    src = str(tmp_path / "src")
    _tagged(spark, CUST, ORDERS[:2]).coalesce(1).write.parquet(src)
    view = _view(spark, tmp_path)
    _run(spark, view, src)
    dl = _tagged(spark, [], ORDERS[2:3]).where(F.col("_side") == "l").select(
        "c_key", "nation"
    )
    dr = _tagged(spark, [], ORDERS[2:3]).where(F.col("_side") == "r").select(
        "c_key", "o_key", "amount"
    )
    plan = (
        view._delta_view(dl, dr, batch_id=99)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_distinct_count_view_overlapping_deltas_and_replay(spark, tmp_path):
    """Re-appearing members across batches must NOT double count (the
    non-additive case JoinAggregateView refuses): three batches with
    heavy user overlap per group; the sketch estimates must equal the
    exact distinct counts at this cardinality, and a replayed run
    leaves the view unchanged."""
    from event_store_spark.streaming.ivm import DistinctCountView

    src = str(tmp_path / "dsrc")
    batches = [
        [("click", u) for u in range(0, 60)],
        [("click", u) for u in range(30, 90)]  # 30 repeats
        + [("view", u) for u in range(0, 40)],
        [("view", u) for u in range(0, 40)]  # all repeats
        + [("click", u) for u in range(85, 100)],
    ]
    for b in batches:
        spark.createDataFrame(b, "event_type string, user_id bigint").coalesce(
            1
        ).write.mode("append").parquet(src)
    view = DistinctCountView(
        spark,
        group_cols=["event_type"],
        value_col="user_id",
        target_path=str(tmp_path / "dv"),
        checkpoint=str(tmp_path / "dck"),
        input_schema="event_type string, user_id bigint",
    )
    # typed empty schema BEFORE the first commit (same contract as
    # JoinAggregateView's left/right schemas)
    assert dict(view.table().dtypes) == {
        "event_type": "string",
        "approx_distinct": "bigint",
    }

    def run():
        stream = (
            spark.readStream.schema("event_type string, user_id bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = view.start(stream)
        q.awaitTermination(240)

    run()
    got = {r.event_type: r.approx_distinct for r in view.table().collect()}
    # exact: click = 0..99 = 100, view = 0..39 = 40; HLL lgk=12 is exact
    # at these cardinalities
    assert got == {"click": 100, "view": 40}

    run()  # replay
    again = {r.event_type: r.approx_distinct for r in view.table().collect()}
    assert again == got


def test_ivm_empty_table_schema_matches_post_commit(spark, tmp_path):
    """Before the first commit, table() must carry the POST-commit types
    (group keys from the declared side schemas, count measures bigint) —
    the pre-fix fabrication of all-string/all-double broke consumers that
    union across the first commit (ADVICE r5)."""
    src = str(tmp_path / "src")
    view = _view(spark, tmp_path)
    empty_dtypes = dict(view.table().dtypes)
    assert view.table().count() == 0
    _tagged(spark, CUST, ORDERS).coalesce(1).write.parquet(src)
    _run(spark, view, src)
    assert dict(view.table().dtypes) == empty_dtypes
    assert empty_dtypes["n_orders"] == "bigint"
    # unioning across the first commit type-checks
    view.table().unionByName(view.table()).collect()


def _side_dirs(spark, tmp_path, side):
    """(watermark, segment batch ids on disk, snapshot dirs on disk)."""
    root = tmp_path / "mv" / f"_side_{side}"
    names = os.listdir(root)
    segs = sorted(int(n[1:]) for n in names if n[:1] == "b" and n[1:].isdigit())
    snaps = sorted(n for n in names if n.startswith("snap"))
    return SegmentLog(spark, str(root)).watermark(), segs, snaps


def test_ivm_side_compaction_bounds_subdirs_and_preserves_state(
    spark, tmp_path, monkeypatch
):
    """With two segments per fold, per-batch side segments fold into one
    snapshot: the dir count stays bounded, and the view still equals the
    full recompute after every fold — including a post-compaction delta
    that must read pre-state through the snapshot."""
    monkeypatch.setattr(generations, "SEGMENTS_PER_FOLD", 2)
    src = str(tmp_path / "src")
    view = _view(spark, tmp_path)
    batches = [
        _tagged(spark, CUST[:2], []),
        _tagged(spark, [], ORDERS[:2]),
        _tagged(spark, CUST[2:], ORDERS[2:4]),
        _tagged(spark, [], ORDERS[4:5]),
    ]
    for b in batches:
        b.coalesce(1).write.mode("append").parquet(src)
    _run(spark, view, src)
    for side in ("l", "r"):
        watermark, segs, snaps = _side_dirs(spark, tmp_path, side)
        assert watermark >= 0 and len(snaps) == 1, (side, watermark, snaps)
        assert len(segs) < len(batches), f"side {side}: {segs}, no fold"
    got = {r.nation: (r.revenue, r.n_orders) for r in view.table().collect()}
    assert got == _full_recompute(spark, CUST, ORDERS[:5])

    # a delta AFTER compaction joins against snapshot-held pre-state
    _tagged(spark, [], ORDERS[5:]).coalesce(1).write.mode("append").parquet(src)
    _run(spark, view, src)
    got = {r.nation: (r.revenue, r.n_orders) for r in view.table().collect()}
    assert got == _full_recompute(spark, CUST, ORDERS)


#: four batches with rows on both sides, so every batch adds a segment
#: to each side log
BOTH_SIDES = [
    (CUST[:1], ORDERS[:1]),
    (CUST[1:2], ORDERS[1:2]),
    (CUST[2:3], ORDERS[2:4]),
    (CUST[3:], ORDERS[4:]),
]


def test_ivm_replay_of_folded_batch_leaves_no_orphan_subdir(
    spark, tmp_path, monkeypatch
):
    """ADVICE r6: replaying a committed batch whose side delta was already
    folded into the snapshot must NOT re-create its b{id} segment — it
    would sit below the watermark, outside pre-state and every future
    fold. The view's state must also stay correct after the replay."""
    monkeypatch.setattr(generations, "SEGMENTS_PER_FOLD", 2)
    view = _view(spark, tmp_path)
    for i, (c, o) in enumerate(BOTH_SIDES):
        view._merge(_tagged(spark, c, o), i)
    last = len(BOTH_SIDES) - 1
    for side in ("l", "r"):
        assert _side_dirs(spark, tmp_path, side) == (last, [], [f"snap{last}"])

    # a checkpoint restart redelivers the last committed batch
    view._merge(_tagged(spark, *BOTH_SIDES[last]), last)
    for side in ("l", "r"):
        assert _side_dirs(spark, tmp_path, side) == (last, [], [f"snap{last}"])
    got = {r.nation: (r.revenue, r.n_orders) for r in view.table().collect()}
    assert got == _full_recompute(spark, CUST, ORDERS)


def test_ivm_crash_after_fold_flip_is_swept_by_next_fold(
    spark, tmp_path, monkeypatch, crash_gc_after_next_fold
):
    """A crash between a side log's second _SNAP flip and its GC leaves
    the folded segments and the superseded snapshot behind; after the
    restart the next fold removes both, and the view is still exact."""
    monkeypatch.setattr(generations, "SEGMENTS_PER_FOLD", 2)
    custs = [(10 + i, f"N{i % 3}") for i in range(6)]
    orders = [(100 + i, 10 + i, float(i + 1)) for i in range(6)]
    batches = [_tagged(spark, custs[i : i + 1], orders[i : i + 1]) for i in range(6)]
    view = _view(spark, tmp_path)
    for i in range(3):  # the first fold, at batch 1, runs clean
        view._merge(batches[i], i)
    crash_gc_after_next_fold()
    with pytest.raises(OSError, match="injected crash"):
        view._merge(batches[3], 3)

    # restart: the uncommitted batch 3 is redelivered, then the stream
    # goes on through one more fold
    view = _view(spark, tmp_path)
    for i in range(3, 6):
        view._merge(batches[i], i)
    for side in ("l", "r"):
        watermark, segs, snaps = _side_dirs(spark, tmp_path, side)
        assert watermark == 5
        assert not [i for i in segs if i <= watermark], (side, segs)
        assert snaps == ["snap5"], (side, snaps)
    got = {r.nation: (r.revenue, r.n_orders) for r in view.table().collect()}
    assert got == _full_recompute(spark, custs, orders)


def test_ivm_malformed_snapshot_pointer_raises(spark, tmp_path):
    """A torn or hand-edited _SNAP must fail the batch, not read as "no
    snapshot" (which would silently drop every folded side row)."""
    view = _view(spark, tmp_path)
    view._merge(_tagged(spark, *BOTH_SIDES[0]), 0)
    root = tmp_path / "mv" / "_side_r"
    (root / "_SNAP").write_text("garbage")
    with pytest.raises(ValueError, match="malformed"):
        view._merge(_tagged(spark, *BOTH_SIDES[1]), 1)
