"""Streaming assertions S-A…S-D (SURVEY §2.9) + replication semantics.

- S-B: tumbling/session windows over a streamed events table match the
  Q36/Q37 batch analogs on the same data
- S-A: watermark config drops late data beyond 10 minutes (config asserted
  on the streaming plan; full lateness simulation needs a rate source)
- S-C: exactly-once projection — restart storms never duplicate or skip
  (mirrors ReactorKafkaEventStoreIT.java:262-317)
- S-D: replication replays from stored cursor without duplication
  (mirrors EventReplicatorWorkerIT.java:281-326)
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from event_store_spark.core import Cursor, EventStore
from event_store_spark.core.state import OffsetsTable, ProgressStore
from event_store_spark.streaming import Replicator, Subscription
from event_store_spark.tables import load_table

TS = datetime.datetime(2025, 1, 4, 12, 0, 0)


@pytest.fixture
def store(spark, tmp_path):
    return EventStore(spark, str(tmp_path / "store"))


def _seed(spark, store, n=8, topic="s_events", batches=2):
    per = n // batches
    for b in range(batches):
        rows = [
            (f"k{b * per + i}", str(b * per + i), TS + datetime.timedelta(minutes=b * per + i))
            for i in range(per)
        ]
        store.append(topic, spark.createDataFrame(rows, "key string, payload string, timestamp timestamp"))
    return topic


# ---------------------------------------------------------------- S-B

def test_streaming_tumbling_window_matches_batch(spark, tmp_path, sf_smoke):
    """Stream the events fixture through a 1h tumbling window and compare
    with the Q36 batch analog on the same data."""
    events = load_table(spark, sf_smoke, "events")
    src = str(tmp_path / "events_src")
    events.write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    out = str(tmp_path / "window_out")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_out")
        .outputMode("complete")
        .option("checkpointLocation", out)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window"]["start"], r["event_type"]): (r["cnt"], r["sum_value"])
        for r in spark.sql("select * from win_out").collect()
    }
    batch = (
        events.groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .collect()
    )
    expected = {(r["h"], r["event_type"]): (r["cnt"], r["sum_value"]) for r in batch}
    assert got == expected and len(got) > 0


def test_streaming_session_window_matches_batch(spark, tmp_path, sf_smoke):
    """session_window(ts, '30 minutes') session counts per user == Q37 batch analog."""
    events = load_table(spark, sf_smoke, "events")
    src = str(tmp_path / "events_src2")
    events.write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    # one session definition for both engines: the stream path goes through
    # sessionize_stream, which shares the batch operator's gap parameter
    # and exact-boundary semantics (VERDICT r4 item 8)
    from event_store_spark.operators.temporal import sessionize_stream

    agg = sessionize_stream(
        stream.withWatermark("ts", "10 minutes"),
        ["user_id"],
        "ts",
        30 * 60 * 1_000_000,
    ).agg(F.count(F.lit(1)).alias("cnt"))
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql("select user_id, count(*) as session_count from sess_out group by user_id")
        .collect()
    )
    got = {r.user_id: r.session_count for r in got}
    from event_store_spark.plans import QUERIES

    expected = {
        r.user_id: r.session_count for r in QUERIES["q37"](spark, sf_smoke).collect()
    }
    assert got == expected


# ---------------------------------------------------------------- S-A

def test_watermark_declared(spark, tmp_path, sf_smoke):
    events = load_table(spark, sf_smoke, "events")
    src = str(tmp_path / "events_src3")
    events.limit(10).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    wm = stream.withWatermark("ts", "10 minutes")
    assert "watermark" in wm._jdf.queryExecution().analyzed().toString().lower()


def test_watermark_drops_late_rows(spark, tmp_path):
    """S-A as SEMANTICS, not config: rows arriving after the watermark has
    passed their window are dropped from the aggregation. Three runs over
    one checkpoint: (1) on-time rows advance the watermark past window W1,
    (2) a late file carries a row inside W1 — it must NOT appear, (3) a
    future row flushes remaining windows. With the watermark removed or
    lengthened the late row lands in W1 (cnt 4) and this test fails —
    behavior-proving in the style of ReactorKafkaEventStoreIT.java:262-317.
    """
    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ck")
    base = datetime.datetime(2025, 1, 4, 10, 0, 0)

    def mins(m):
        return base + datetime.timedelta(minutes=m)

    def write_file(rows):
        spark.createDataFrame(rows, "user string, ts timestamp").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run_once():
        stream = spark.readStream.schema("user string, ts timestamp").parquet(src)
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        collected = []
        q = (
            agg.writeStream.foreachBatch(lambda d, b: collected.extend(d.collect()))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return collected

    # run 1: W1=[10:00,11:00) gets 3 rows; 12:30 pushes the watermark to
    # 12:20 > 11:00, so W1 is finalized
    write_file([("u", mins(m)) for m in (5, 20, 40)] + [("u", mins(150))])
    out = run_once()
    # run 2: a LATE row inside W1 (10:15 << watermark) plus an on-time row
    write_file([("late", mins(15)), ("u", mins(210))])
    out += run_once()
    # run 3: flush any windows still open
    write_file([("u", mins(330))])
    out += run_once()

    by_window = {}
    for r in out:
        key = r.w.start
        assert key not in by_window, "a finalized window was re-emitted"
        by_window[key] = r.cnt
    assert by_window[base] == 3  # late row dropped, not 4


# ---------------------------------------------------------------- S-C

def test_exactly_once_subscription_restart_storm(spark, tmp_path, store):
    """Process a topic, then restart with a WIPED checkpoint (worst-case
    redelivery of every batch): the offsets-table EOS wrapper must not
    re-apply effects."""
    topic = _seed(spark, store, n=6, batches=3)
    offsets = OffsetsTable(str(tmp_path / "offsets.json"))
    sink_path = str(tmp_path / "projection")
    applied = []

    def processor(df, batch_id):
        applied.append(batch_id)
        df.select("id", "lsn", "payload").write.mode("overwrite").parquet(
            f"{sink_path}/batch_id={batch_id}"
        )

    sub = Subscription(store, offsets, str(tmp_path / "ckpt1"))
    q = sub.run(topic, processor)
    q.awaitTermination(120)
    first_rows = spark.read.parquet(sink_path).count()
    assert first_rows == 6
    first_applied = list(applied)

    # restart with same checkpoint: no new data → nothing reprocessed
    q = sub.run(topic, processor)
    q.awaitTermination(120)
    assert applied == first_applied

    # wipe checkpoint (full redelivery with batch ids from 0) → wrapper skips
    sub2 = Subscription(store, offsets, str(tmp_path / "ckpt2"))
    q = sub2.run(topic, processor)
    q.awaitTermination(120)
    assert applied == first_applied  # no duplicate effects
    assert spark.read.parquet(sink_path).count() == 6  # no dup, no skip


def test_subscription_checkpoint_loss_does_not_skip_new_events(spark, tmp_path, store):
    """Checkpoint loss with UNPROCESSED new events: the relisted backlog
    restarts batch ids at 0, so a bare batch-id gate would classify the
    whole backlog — including the never-processed events — as a stale
    redelivery and silently drop it (ADVICE r3). The lineage guard must
    instead reprocess exactly the new rows (old rows keyset-filtered)."""
    topic = _seed(spark, store, n=4, batches=2)
    offsets = OffsetsTable(str(tmp_path / "offsets.json"))
    processed: list[tuple[int, int]] = []

    def processor(df, batch_id):
        processed.extend((r["lsn"], int(r["payload"])) for r in df.collect())

    sub = Subscription(store, offsets, str(tmp_path / "ckpt1"))
    sub.run(topic, processor).awaitTermination(120)
    assert sorted(p for _, p in processed) == [0, 1, 2, 3]

    # new events arrive AFTER the checkpoint is lost
    store.append(
        topic,
        spark.createDataFrame(
            [("k4", "4", TS), ("k5", "5", TS)],
            "key string, payload string, timestamp timestamp",
        ),
    )
    before = list(processed)
    sub2 = Subscription(store, offsets, str(tmp_path / "ckpt2"))  # fresh ckpt
    sub2.run(topic, processor).awaitTermination(120)
    new = processed[len(before):]
    # exactly the two new events, once each; nothing old re-applied
    assert sorted(p for _, p in new) == [4, 5]

    # and a THIRD run on the adopted lineage is a clean no-op
    sub2.run(topic, processor).awaitTermination(120)
    assert len(processed) == len(before) + 2
    # bookkeeping advanced over the new events
    assert sub2.lag(topic) == 0


def test_recovery_batch_unpersisted_when_processor_raises(spark, tmp_path, store):
    """A processor that raises must not leave its batch cached for the
    rest of the session (each crash-restart would pin one more batch),
    and the failed batch commits nothing."""
    import os

    topic = _seed(spark, store, n=4, batches=2)
    offsets = OffsetsTable(str(tmp_path / "offsets.json"))
    ckpt = str(tmp_path / "ckpt")
    Subscription(store, offsets, ckpt).run(topic, lambda df, b: None).awaitTermination(120)
    store.append(
        topic,
        spark.createDataFrame([("k4", "4", TS)], "key string, payload string, timestamp timestamp"),
    )
    assert not os.path.exists(ckpt)  # the subscription keeps no checkpoint

    def boom(df, batch_id):
        raise RuntimeError("processor failed")

    cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    q = Subscription(store, offsets, ckpt).run(topic, boom)
    with pytest.raises(Exception, match="processor failed"):
        q.awaitTermination(120)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached
    assert offsets.get(topic) == 3  # the failed batch committed nothing


def test_subscription_restart_reruns_the_pending_batch(spark, tmp_path, store):
    """A run on a new checkpoint root whose processor crashes on its
    batch: the batch stays pending in the offsets entry, and the restart
    reruns exactly it, under the same batch id, so no event at or below
    the committed cursor is delivered a second time and none is lost."""
    topic = "straddle_events"
    for i in range(3):
        store.append(
            topic,
            spark.createDataFrame(
                [(f"k{i}", str(i), TS)], "key string, payload string, timestamp timestamp"
            ),
        )
    offsets = OffsetsTable(str(tmp_path / "offsets.json"))
    delivered: list[str] = []

    def record(df, batch_id):
        delivered.extend(r["payload"] for r in df.collect())

    Subscription(store, offsets, str(tmp_path / "ck1")).run(topic, record).awaitTermination(120)
    assert sorted(delivered) == ["0", "1", "2"]
    store.append(
        topic,
        spark.createDataFrame([("k3", "3", TS)], "key string, payload string, timestamp timestamp"),
    )

    def crash_on_second_batch(df, batch_id):
        if batch_id == 1:
            raise RuntimeError("crash inside recovery")
        record(df, batch_id)

    ck2 = str(tmp_path / "ck2")
    q = Subscription(store, offsets, ck2, max_files_per_trigger=2).run(
        topic, crash_on_second_batch
    )
    with pytest.raises(Exception, match="crash inside recovery"):
        q.awaitTermination(120)
    assert offsets.last_batch_id(topic) == 0  # the crashed batch committed nothing
    assert offsets.position(topic)[1:] == (1, store.log_files(topic)[-1].high)

    sub = Subscription(store, offsets, ck2, max_files_per_trigger=2)
    sub.run(topic, record).awaitTermination(120)
    assert sorted(delivered) == ["0", "1", "2", "3"]
    assert sub.lag(topic) == 0


# ---------------------------------------------------------------- S-D

def test_replication_cursor_resume_no_duplicates(spark, tmp_path, store):
    """Replicate, append more, replicate again from the stored cursor —
    target has every event exactly once, in (lsn, id) order with sorted
    headers carrying id+lsn (T7/O4)."""
    topic = _seed(spark, store, n=4, batches=2)
    progress = ProgressStore(str(tmp_path / "progress.json"))
    rep = Replicator(store, str(tmp_path / "kafka"), progress, str(tmp_path / "rckpt"))
    q = rep.replicate(topic)
    q.awaitTermination(120)
    t1 = spark.read.parquet(rep.target_path(topic))
    assert t1.count() == 4
    assert rep.lag(topic) == 0

    cursor1 = progress.last_cursor(topic)
    assert cursor1 is not None and cursor1.lsn == 2

    # append a third batch and replicate again (new query, same progress)
    store.append(
        topic,
        spark.createDataFrame([("k9", "9", TS)], "key string, payload string, timestamp timestamp"),
    )
    assert rep.lag(topic) == 1
    q = rep.replicate(topic)
    q.awaitTermination(120)
    t2 = spark.read.parquet(rep.target_path(topic))
    assert t2.count() == 5
    # exactly-once: no (lsn, id) appears twice
    assert t2.select("lsn", "id").distinct().count() == 5
    # headers sorted and carry id + lsn
    row = t2.orderBy("lsn", "id").first()
    hkeys = [h["key"] for h in row.headers]
    assert hkeys == sorted(hkeys) and "id" in hkeys and "lsn" in hkeys


def test_replicate_all_discovers_topics(spark, tmp_path, store):
    _seed(spark, store, n=2, batches=1, topic="a_events")
    _seed(spark, store, n=2, batches=1, topic="b_events")
    progress = ProgressStore(str(tmp_path / "progress.json"))
    rep = Replicator(store, str(tmp_path / "kafka"), progress, str(tmp_path / "rckpt"))
    qs = rep.replicate_all()
    for q in qs:
        q.awaitTermination(120)
    assert progress.topics() == ["a_events", "b_events"]


def test_streaming_dedup_within_watermark(spark, tmp_path, sf_smoke):
    """Streaming exact dedup: duplicated events collapse to one row each via
    dropDuplicatesWithinWatermark (the streaming twin of q30's hash dedup —
    state is bounded by the watermark instead of growing forever)."""
    events = load_table(spark, sf_smoke, "events").limit(200)
    src = str(tmp_path / "dup_src")
    # write each event twice (two files → possibly two micro-batches)
    events.write.parquet(src)
    events.write.mode("append").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select event_id from dedup_out").collect()
    ids = [r.event_id for r in got]
    assert len(ids) == len(set(ids)) == 200  # one row per event, none lost


def test_replication_rerun_overwrites_its_pending_directory(
    spark, tmp_path, store, monkeypatch
):
    """A crash between a batch's directory write and its progress save
    leaves the batch pending in the progress entry. The restart, on
    another checkpoint root (the replicator keeps none), reruns exactly
    that batch: it overwrites the same ``cursor=<hi>`` directory, so the
    target holds every row once and the lag reads 0."""
    import os

    topic = _seed(spark, store, n=4, batches=2)
    progress = ProgressStore(str(tmp_path / "progress.json"))
    rep = Replicator(store, str(tmp_path / "kafka"), progress, str(tmp_path / "ck1"))
    rep.replicate(topic).awaitTermination(120)
    committed = progress.last_cursor(topic)
    store.append(
        topic,
        spark.createDataFrame(
            [("kN", "new", TS)], "key string, payload string, timestamp timestamp"
        ),
    )

    def crash(*args, **kwargs):
        raise RuntimeError("crash before the progress save")

    monkeypatch.setattr(ProgressStore, "save", crash)
    with pytest.raises(RuntimeError, match="crash before the progress save"):
        rep.replicate(topic).awaitTermination(120)
    monkeypatch.undo()
    after, batch_id, pending = progress.position(topic)
    assert (after, batch_id) == (committed, 1) and pending is not None
    dirs = sorted(os.listdir(rep.target_path(topic)))

    rep2 = Replicator(store, str(tmp_path / "kafka"), progress, str(tmp_path / "ck2"))
    rep2.replicate(topic).awaitTermination(120)
    assert sorted(os.listdir(rep2.target_path(topic))) == dirs  # same directory
    t = spark.read.parquet(rep2.target_path(topic))
    assert t.count() == 5
    assert t.select("lsn", "id").distinct().count() == 5
    assert progress.last_cursor(topic) == pending
    assert rep2.lag(topic) == 0


def test_replication_keeps_rows_of_a_partial_orphan_after_checkpoint_loss(
    spark, tmp_path, store
):
    """A crashed run left ``cursor=<hw>`` holding every row of its batch
    but the maximum, then the checkpoint was lost. The floor the new
    lineage records covers that directory's name, so the rerun anti-joins
    the batch and adds the missing row beside the orphan's rows instead
    of overwriting the directory with it: 7 of 7 rows, none twice."""
    from event_store_spark.streaming.replicate import to_kafka_records

    topic = _seed(spark, store, n=4, batches=2)
    progress = ProgressStore(str(tmp_path / "progress.json"))
    rep = Replicator(store, str(tmp_path / "kafka"), progress, str(tmp_path / "ck1"))
    rep.replicate(topic).awaitTermination(120)
    store.append(
        topic,
        spark.createDataFrame(
            [(f"kN{i}", f"new{i}", TS) for i in range(3)],
            "key string, payload string, timestamp timestamp",
        ),
    )
    batch = to_kafka_records(store.read_events(topic, after=progress.last_cursor(topic)))
    top = batch.agg(F.max(F.struct("lsn", "id"))).first()[0]
    batch.where(F.col("id") != top["id"]).write.parquet(
        f"{rep.target_path(topic)}/cursor={top['lsn']}_{top['id']}"
    )

    rep2 = Replicator(store, str(tmp_path / "kafka"), progress, str(tmp_path / "ck2"))
    rep2.replicate(topic).awaitTermination(120)
    t = spark.read.parquet(rep2.target_path(topic))
    assert t.count() == 7
    assert t.select("lsn", "id").distinct().count() == 7
    assert rep2.lag(topic) == 0


def test_replication_on_a_restored_checkpoint_keeps_rows_once(spark, tmp_path, store):
    """A checkpoint directory restored from a backup (here one an earlier
    streaming replicator left) after replication went on past it: the
    replicator keeps its position in the progress store alone, so the
    restored directory changes nothing and no row is written twice."""
    import os
    import shutil

    topic = _seed(spark, store, n=4, batches=2)
    progress = ProgressStore(str(tmp_path / "progress.json"))
    target, ck1 = str(tmp_path / "kafka"), str(tmp_path / "ck1")
    Replicator(store, target, progress, ck1).replicate(topic).awaitTermination(120)
    assert not os.path.exists(ck1)
    os.makedirs(os.path.join(ck1, topic, "offsets"))
    with open(os.path.join(ck1, topic, "offsets", "0"), "w") as f:
        f.write("v1\n{}\n")
    shutil.copytree(ck1, str(tmp_path / "backup"))
    for i in range(2):
        store.append(
            topic,
            spark.createDataFrame(
                [(f"kN{i}", f"new{i}", TS)], "key string, payload string, timestamp timestamp"
            ),
        )
    # the newer lineage writes the two appends as two directories ...
    Replicator(
        store, target, progress, str(tmp_path / "ck2"), max_files_per_trigger=1
    ).replicate(topic).awaitTermination(120)

    # ... the restored one reads them as one batch
    shutil.rmtree(ck1)
    shutil.copytree(str(tmp_path / "backup"), ck1)
    rep = Replicator(store, target, progress, ck1)
    rep.replicate(topic).awaitTermination(120)
    t = spark.read.parquet(rep.target_path(topic))
    assert t.count() == 6
    assert t.select("lsn", "id").distinct().count() == 6
    assert rep.lag(topic) == 0


def test_replication_survives_checkpoint_loss(spark, tmp_path, store):
    """Cursor-keyed sink: wiping the streaming checkpoint (batch ids restart
    at 0) neither duplicates already-replicated rows nor skips new ones —
    strictly stronger than batch-id idempotence."""
    topic = _seed(spark, store, n=4, batches=2)
    progress = ProgressStore(str(tmp_path / "progress.json"))
    rep = Replicator(store, str(tmp_path / "kafka"), progress, str(tmp_path / "ck1"))
    rep.replicate(topic).awaitTermination(120)
    assert spark.read.parquet(rep.target_path(topic)).count() == 4

    # new events arrive, then the checkpoint is lost
    store.append(
        topic,
        spark.createDataFrame(
            [("kN", "new", TS)], "key string, payload string, timestamp timestamp"
        ),
    )
    rep2 = Replicator(store, str(tmp_path / "kafka"), progress, str(tmp_path / "ck2"))
    rep2.replicate(topic).awaitTermination(120)
    t = spark.read.parquet(rep2.target_path(topic))
    assert t.count() == 5  # new row replicated (no skip)
    assert t.select("lsn", "id").distinct().count() == 5  # no duplicates


def test_compaction_redelivers_nothing_to_running_consumers(spark, tmp_path, store):
    """`EventStore.compact` gives the compacted rows new file paths, which
    a file source delivers again to consumers that keep their
    checkpoints. The replicator and the subscription drop every row at or
    below the cursor they committed, so each event still arrives once."""
    topic = _seed(spark, store, n=15, topic="compacted_events", batches=3)
    progress = ProgressStore(str(tmp_path / "progress.json"))
    offsets = OffsetsTable(str(tmp_path / "offsets.json"))
    rep = Replicator(store, str(tmp_path / "kafka"), progress, str(tmp_path / "rck"))
    sub = Subscription(store, offsets, str(tmp_path / "sck"))
    delivered: list[tuple[int, int]] = []

    def record(df, batch_id):
        delivered.extend((r["lsn"], r["id"]) for r in df.select("lsn", "id").collect())

    def drain():
        rep.replicate(topic).awaitTermination(120)
        sub.run(topic, record).awaitTermination(120)

    drain()
    assert len(delivered) == 15
    assert store.compact(topic, target_files=1) == 1
    rows = [(f"k{i}", str(i), TS) for i in range(15, 20)]
    store.append(
        topic,
        spark.createDataFrame(rows, "key string, payload string, timestamp timestamp"),
    )
    drain()

    target = spark.read.parquet(rep.target_path(topic))
    assert target.count() == 20
    assert target.select("lsn", "id").distinct().count() == 20
    assert len(delivered) == 20 and len(set(delivered)) == 20
    assert rep.lag(topic) == 0
    assert sub.lag(topic) == 0


def test_streaming_hopping_window_matches_batch(spark, tmp_path, sf_smoke):
    """S-B extension: 2h/1h hopping windows over the streamed events table
    match the q56 batch analog on the same data."""
    events = load_table(spark, sf_smoke, "events")
    src = str(tmp_path / "events_hop_src")
    events.write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.unix_millis(F.col("w.start")).alias("win_start_ms"), "cnt", "sum_value")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("hop_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "hop_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.win_start_ms: (r.cnt, r.sum_value)
        for r in spark.sql("select * from hop_out").collect()
    }
    expected = {
        r.win_start_ms: (r.cnt, r.sum_value)
        for r in events.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.unix_millis(F.col("w.start")).alias("win_start_ms"), "cnt", "sum_value")
        .collect()
    }
    assert got == expected


def test_live_replication_races_concurrent_appends(spark, tmp_path, store, monkeypatch):
    """Appends racing a RUNNING replication stream lose nothing: ordered
    publication lands each append's files one rename at a time, oldest
    (lsn, id) range first, so any trigger's directory listing catches a
    commit-order PREFIX — the keyset cursor can never advance past a row
    that hasn't become visible yet. Multi-file appends (repartition(4),
    with the file-size target lowered so a small batch still splits)
    against a free-running micro-batch trigger; exactly-once at the end."""
    import time as _time

    from event_store_spark.core import store as store_module

    monkeypatch.setattr(store_module, "TARGET_FILE_BYTES", 1)

    topic = "live_events"
    store.append(
        topic,
        spark.createDataFrame(
            [("k0", "0", TS)], "key string, payload string, timestamp timestamp"
        ),
    )
    progress = ProgressStore(str(tmp_path / "progress.json"))
    rep = Replicator(
        store,
        str(tmp_path / "kafka"),
        progress,
        str(tmp_path / "rckpt"),
        max_files_per_trigger=3,  # force mid-append batch boundaries
    )
    q = rep.replicate(topic, available_now=False)
    try:
        for b in range(1, 10):
            rows = [(f"k{b}-{i}", f"{b}-{i}", TS) for i in range(4)]
            store.append(
                topic,
                spark.createDataFrame(
                    rows, "key string, payload string, timestamp timestamp"
                ).repartition(4),
            )
        total = 1 + 9 * 4

        def replicated() -> int:
            # lag() is lsn-granular: it reads 0 as soon as ANY row of the
            # newest lsn lands, while sibling files may still be in flight —
            # wait on the actual replicated row count before stopping
            try:
                return spark.read.parquet(rep.target_path(topic)).count()
            except Exception:
                return 0  # target not created yet

        deadline = _time.monotonic() + 120
        while replicated() < total and _time.monotonic() < deadline:
            _time.sleep(0.25)
        assert rep.lag(topic) == 0, "replication never caught up"
    finally:
        q.stop()
        q.awaitTermination(60)
    got = spark.read.parquet(rep.target_path(topic)).select("lsn", "id")
    assert got.count() == total  # nothing lost ...
    assert got.distinct().count() == total  # ... nothing duplicated
    expected = {(r.lsn, r.id) for r in store.read_events(topic).select("lsn", "id").collect()}
    assert {(r.lsn, r.id) for r in got.collect()} == expected


# ------------------------------------------------- per-record consumption

def test_run_records_total_order_and_per_event_offsets(spark, tmp_path, store):
    """run_records delivers every event exactly once in total (lsn, id)
    order and commits the cursor per RECORD: after the run the offsets
    cursor sits at the last event, and a replayed query (same data)
    invokes the handler zero times."""
    topic = _seed(spark, store, n=6, topic="rr_events", batches=2)
    offsets = OffsetsTable(str(tmp_path / "offsets.json"))
    sub = Subscription(store, offsets, str(tmp_path / "ck"))
    seen: list[tuple[int, int, str]] = []

    sub.run_records(topic, lambda r: seen.append((r["lsn"], r["id"], r["payload"]))).awaitTermination(120)
    assert [p for _, _, p in seen] == [str(i) for i in range(6)]
    assert [(l, i) for l, i, _ in seen] == sorted((l, i) for l, i, _ in seen)
    cur = offsets.get_cursor(topic)
    assert (cur.lsn, cur.id) == (seen[-1][0], seen[-1][1])
    assert offsets.get(topic) == 5  # 0-based consumed-row index

    sub.run_records(topic, lambda r: seen.append(("dup", r["id"], r["payload"]))).awaitTermination(120)
    assert not any(x[0] == "dup" for x in seen)

    # kafka source refuses: per-record total order is the file log's contract
    ksub = Subscription(
        store, offsets, str(tmp_path / "ck2"),
        source="kafka", bootstrap_servers="b:9092",
    )
    with pytest.raises(ValueError, match="files source"):
        ksub.run_records(topic, lambda r: None)


def test_run_records_resumes_mid_batch_after_handler_crash(spark, tmp_path, store):
    """A handler exception mid-batch kills the query AFTER the prior
    record's cursor committed: the restart resumes at the poison record —
    no earlier event re-delivered, no later event skipped (the per-event
    offset transactionality the reference gets from its per-record
    transactional commit)."""
    topic = _seed(spark, store, n=5, topic="rrc_events", batches=1)
    offsets = OffsetsTable(str(tmp_path / "offsets.json"))
    sub = Subscription(store, offsets, str(tmp_path / "ck"))
    handled: list[str] = []

    def poison(row):
        if row["payload"] == "3":
            raise RuntimeError("boom")  # BEFORE any effect: idempotent per id
        handled.append(row["payload"])

    q = sub.run_records(topic, poison)
    with pytest.raises(Exception):
        q.awaitTermination(120)
        q.stop()
        raise RuntimeError("expected streaming failure")
    assert handled == ["0", "1", "2"]

    sub2 = Subscription(store, offsets, str(tmp_path / "ck_retry"))
    sub2.run_records(topic, lambda r: handled.append(r["payload"])).awaitTermination(120)
    assert handled == ["0", "1", "2", "3", "4"]  # exactly once each, in order


def test_ticketed_stream_readers_start_no_job(spark, tmp_path, store, jobs_started):
    """Subscription.stream takes the row schema from the topic's descriptor:
    building the stream starts no Spark job (a footer-inference read used
    to, on every call)."""
    topic = _seed(spark, store)
    sub = Subscription(store, OffsetsTable(str(tmp_path / "offsets.json")), str(tmp_path / "sckpt"))
    before = jobs_started()
    stream = sub.stream(topic)
    assert jobs_started() == before
    assert stream.isStreaming and stream.schema == store.event_schema(topic)


def test_file_topic_consumers_start_no_stream_and_keep_no_checkpoint(
    spark, tmp_path, store, monkeypatch
):
    """The Replicator (both sinks) and the files Subscription (run and
    run_records) start no DataStreamWriter and create nothing under their
    checkpoint roots: their position is their bookkeeping entry alone."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    def refuse(self, *args, **kwargs):
        raise AssertionError("a file-topic consumer started a streaming query")

    monkeypatch.setattr(DataStreamWriter, "start", refuse)
    topic = _seed(spark, store, n=4)
    ck = tmp_path / "ck"
    produced = []
    for sink in ("files", "kafka"):
        Replicator(
            store, str(tmp_path / "target"), ProgressStore(str(tmp_path / f"{sink}.json")),
            str(ck / sink), sink=sink, bootstrap_servers="injected:9092",
            kafka_record_sink=lambda out: produced.append(out.count()),
        ).replicate(topic).awaitTermination(120)
    seen = []
    sub = Subscription(store, OffsetsTable(str(tmp_path / "offsets.json")), str(ck / "sub"))
    sub.run(topic, lambda df, batch_id: seen.append(df.count())).awaitTermination(120)
    records = Subscription(store, OffsetsTable(str(tmp_path / "rec.json")), str(ck / "rec"))
    records.run_records(topic, seen.append).awaitTermination(120)
    assert produced == [4] and seen[0] == 4 and len(seen) == 5
    assert spark.read.parquet(f"{tmp_path}/target/{topic}").count() == 4
    assert not ck.exists()


def test_keyset_batches_run_only_their_writes(spark, tmp_path, store, jobs_started):
    """Job budget of one keyset batch over a one-file append: the
    replicator runs 1 Spark job (its directory write) and the
    subscription only its processor's; each batch leaves one progress
    record on the handle, with the durations a StreamingQuery reports."""
    topic = _seed(spark, store, n=3, batches=1)
    hw = store.high_water(topic)
    rep = Replicator(
        store, str(tmp_path / "target"), ProgressStore(str(tmp_path / "progress.json")),
        str(tmp_path / "rck"),
    )
    sub = Subscription(store, OffsetsTable(str(tmp_path / "offsets.json")), str(tmp_path / "sck"))
    before = jobs_started()
    q = rep.replicate(topic)
    q.awaitTermination(120)
    assert jobs_started() - before == 1
    before = jobs_started()
    s = sub.run(topic, lambda df, batch_id: df.collect())
    s.awaitTermination(120)
    assert jobs_started() - before == 1
    for handle in (q, s):
        (p,) = handle.recentProgress
        assert handle.lastProgress == p and not handle.isActive
        assert (p["batchId"], p["numInputRows"], p["numFiles"]) == (0, 3, 1)
        assert p["startOffset"] == Cursor.zero().serialize()
        assert p["endOffset"] == Cursor(hw["lsn"], hw["max_id"]).serialize()
        assert set(p["durationMs"]) == {"triggerExecution", "latestOffset", "addBatch", "walCommit"}
    before = jobs_started()
    assert rep.replicate(topic).recentProgress == []  # nothing new: no job
    assert sub.run(topic, lambda df, batch_id: None).recentProgress == []
    assert jobs_started() == before
