"""Sketch accuracy bounds, schema evolution, stateful streaming operator."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from event_store_spark.avro import LocalSchemaRegistry
from event_store_spark.plans import ORACLE, QUERIES
from event_store_spark.tables import load_table


def test_approx_distinct_within_error(spark, sf_correct):
    """Audit flags hold, exact column is right, and the raw HLL estimate
    (recomputed here) lands within the tighter 5% envelope."""
    rows = QUERIES["approx_distinct_users"](spark, sf_correct).collect()
    assert rows and all(r.approx_ok for r in rows)
    events = load_table(spark, sf_correct, "events")
    raw = {
        r.event_type: (r.approx, r.exact)
        for r in events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
            F.countDistinct("user_id").alias("exact"),
        )
        .collect()
    }
    assert {r.event_type: r.exact_users for r in rows} == {
        et: e for et, (_, e) in raw.items()
    }
    for et, (a, e) in raw.items():
        assert abs(a - e) <= max(0.05 * e, 2), (et, a, e)


def test_approx_quantiles_within_tolerance(spark, sf_correct):
    """Rank-space audit flags hold, and the raw GK estimates (recomputed)
    stay within 1% of the exact interpolated percentiles in value space."""
    row = QUERIES["approx_price_quantiles"](spark, sf_correct).first()
    assert row.ok25 and row.ok50 and row.ok75
    orders = load_table(spark, sf_correct, "orders")
    both = orders.agg(
        *[
            F.percentile_approx("o_totalprice", F.lit(q), F.lit(10_000)).alias(f"a{i}")
            for i, q in enumerate((0.25, 0.5, 0.75))
        ],
        *[
            F.percentile("o_totalprice", F.lit(q)).alias(f"e{i}")
            for i, q in enumerate((0.25, 0.5, 0.75))
        ],
    ).first()
    for i in range(3):
        assert abs(both[f"a{i}"] - both[f"e{i}"]) / both[f"e{i}"] < 0.01


def test_sketches_declared_with_audit_oracle():
    """Approx operators are oracle-checked via their accuracy contract: the
    oracle recomputes the exact columns and pins the verdicts to 1 (INT,
    not BOOLEAN — the fetch-path type discipline of test_oracle_types;
    raw sketch values stay out of the compared columns)."""
    for name, verdicts in (
        ("approx_distinct_users", ["1 AS approx_ok"]),
        (
            "approx_price_quantiles",
            ["1 AS ok25", "1 AS ok50", "1 AS ok75"],
        ),
    ):
        assert name in QUERIES and name in ORACLE
        for v in verdicts:
            assert v in ORACLE[name], (name, v)


def test_schema_evolution_old_frames_still_decode(tmp_path):
    reg = LocalSchemaRegistry(str(tmp_path / "reg.json"))
    v1 = {"type": "record", "name": "Evt", "fields": [{"name": "text", "type": "string"}]}
    v2 = {
        "type": "record",
        "name": "Evt",
        "fields": [
            {"name": "text", "type": "string"},
            {"name": "lang", "type": ["null", "string"], "default": None},
        ],
    }
    sid1 = reg.register(v1)
    frame_v1 = reg.serialize("Evt", {"text": "old"})
    sid2 = reg.register(v2)
    assert sid2 != sid1 and reg.versions("Evt") == [sid1, sid2]
    assert reg.register(v2) == sid2  # identical re-registration is a no-op
    frame_v2 = reg.serialize("Evt", {"text": "new", "lang": "en"})
    # both generations decode via their writer schema (Confluent frame id)
    assert reg.deserialize(frame_v1) == ("Evt", {"text": "old"})
    assert reg.deserialize(frame_v2) == ("Evt", {"text": "new", "lang": "en"})
    # persistence preserves version order
    reg2 = LocalSchemaRegistry(str(tmp_path / "reg.json"))
    assert reg2.versions("Evt") == [sid1, sid2]
    assert reg2.deserialize(frame_v1) == ("Evt", {"text": "old"})


def test_stateful_running_counters_match_batch(spark, sf_smoke, tmp_path):
    """applyInPandasWithState running counters == batch groupBy totals."""
    from event_store_spark.streaming.stateful import running_user_counters

    events = load_table(spark, sf_smoke, "events")
    src = str(tmp_path / "ev_src")
    events.write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        running_user_counters(stream)
        .writeStream.format("memory")
        .queryName("state_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    # last update per user wins (update mode emits one row per key per batch)
    got = {
        r.user_id: (r.total_events, round(r.total_value, 2))
        for r in spark.sql("select * from state_out").collect()
    }
    expected = {
        r.user_id: (r.cnt, round(r.sv, 2))
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv"))
        .collect()
    }
    assert got == expected


def test_streaming_first_seen_dedup_across_batches(spark, sf_smoke, tmp_path):
    """Cross-batch exact dedup: a duplicate arriving in a LATER micro-batch
    is dropped; each content hash is admitted exactly once with the winning
    (min) doc_id of its first batch."""
    from event_store_spark.streaming.stateful import streaming_first_seen_dedup

    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    src = str(tmp_path / "docs_src")
    # file 1: the corpus; file 2: re-keyed duplicates of the same texts —
    # maxFilesPerTrigger=1 makes them separate micro-batches
    docs.coalesce(1).write.parquet(src)
    dupes = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    dupes.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_first_seen_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    out = spark.sql("select * from dedup_out").collect()
    emitted = [r for r in out if r.doc_id is not None]
    # one admission per distinct text, never a re-keyed late duplicate
    n_distinct = docs.select(F.md5("text")).distinct().count()
    assert len(emitted) == n_distinct
    assert len({r.content_hash for r in emitted}) == n_distinct
    assert all(r.doc_id < 1_000_000 for r in emitted)


def test_streaming_dedup_state_survives_restart(spark, sf_smoke, tmp_path):
    """The admission ledger lives in the checkpointed state store: a SECOND
    query run (fresh StreamingQuery, same checkpoint) still drops
    duplicates admitted by the first run."""
    from pyspark.sql import functions as F
    from event_store_spark.streaming.stateful import streaming_first_seen_dedup

    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text").limit(50)
    src = str(tmp_path / "restart_src")
    ck = str(tmp_path / "restart_ck")
    emitted: list = []

    def run_once():
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_first_seen_dedup(stream)
            .writeStream.foreachBatch(
                lambda df, _bid: emitted.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)

    docs.coalesce(1).write.parquet(src)
    run_once()
    first_run = len(emitted)
    n_distinct = docs.select(F.md5("text")).distinct().count()
    assert first_run == n_distinct

    # new file of re-keyed duplicates, NEW query instance, same checkpoint
    docs.select((F.col("doc_id") + 500_000).alias("doc_id"), "text").coalesce(
        1
    ).write.mode("append").parquet(src)
    run_once()
    assert len(emitted) == first_run  # every late duplicate dropped via state


def test_streaming_heavy_hitters_support_guarantee(spark, tmp_path):
    """Misra-Gries across micro-batches: bounded state (≤16 counters per
    bucket), every sufficiently-frequent item survives, and reported
    counts undercount by at most n_bucket/(capacity+1)."""
    import pandas as pd

    from event_store_spark.streaming.stateful import (
        HH_CAPACITY,
        streaming_heavy_hitters,
    )

    src = str(tmp_path / "src")
    # skewed distribution split across two files -> two micro-batches
    rows1 = [("hot-1",)] * 300 + [("hot-2",)] * 150 + [(f"cold-{i}",) for i in range(200)]
    rows2 = [("hot-1",)] * 200 + [("hot-3",)] * 180 + [(f"cold2-{i}",) for i in range(200)]
    spark.createDataFrame(rows1, "item string").coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows2, "item string").coalesce(1).write.mode("append").parquet(src)

    latest: dict = {}

    def capture(batch_df, batch_id):
        rows = batch_df.collect()
        for b in {r.bucket for r in rows}:
            latest[b] = {}  # each emission is the bucket's FULL counter set
        for r in rows:
            latest[r.bucket][r.item] = r.lower_count

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_heavy_hitters(stream, "item")
        .writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(capture)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    batch = spark.read.parquet(src)
    truth = {
        (r.bucket, r.item): r.cnt
        for r in batch.select(
            (F.abs(F.hash("item")) % F.lit(4)).cast("int").alias("bucket"), "item"
        )
        .groupBy("bucket", "item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    n_per_bucket: dict = {}
    for (b, _), c in truth.items():
        n_per_bucket[b] = n_per_bucket.get(b, 0) + c

    for b, counters in latest.items():
        assert len(counters) <= HH_CAPACITY
        slack = n_per_bucket.get(b, 0) / (HH_CAPACITY + 1)
        for item, lower in counters.items():
            true = truth[(b, item)]
            assert lower <= true, (item, lower, true)
            assert true - lower <= slack, (item, lower, true, slack)
    # support guarantee: anything with freq > n_bucket/(cap+1) must survive
    for (b, item), c in truth.items():
        if c > n_per_bucket[b] / (HH_CAPACITY + 1):
            assert item in latest.get(b, {}), (b, item, c)


def test_drop_duplicates_within_watermark_bounded_dedup(spark, tmp_path):
    """Engine-native bounded-horizon dedup (`dropDuplicatesWithinWatermark`):
    duplicates arriving within the watermark delay are dropped with state
    the engine can EXPIRE — the complement of `streaming_first_seen_dedup`'s
    unbounded exact ledger. A duplicate inside the horizon is dropped even
    when it lands in a later micro-batch."""
    import datetime

    src = str(tmp_path / "src")
    t0 = datetime.datetime(2025, 5, 1, 12, 0, 0)
    m = datetime.timedelta
    rows1 = [("a", t0), ("b", t0 + m(minutes=1))]
    rows2 = [("a", t0 + m(minutes=5)),  # dup within horizon -> dropped
             ("c", t0 + m(minutes=6))]
    spark.createDataFrame(rows1, "k string, ts timestamp").coalesce(1) \
        .write.mode("append").parquet(src)
    spark.createDataFrame(rows2, "k string, ts timestamp").coalesce(1) \
        .write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = stream.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(["k"])
    out = str(tmp_path / "out")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r.k, r.ts) for r in spark.read.parquet(out).collect())
    assert [k for k, _ in got] == ["a", "b", "c"]
    assert dict(got)["a"] == t0  # the FIRST arrival won


def test_streaming_ivf_assignment_matches_batch(spark, sf_smoke, tmp_path):
    """Streamed embeddings land in the same cells the batch assignment
    gives them, and the sink is cell-partitioned (the inverted-file
    layout: searching cell c reads exactly cell=c/)."""
    import os

    from event_store_spark.plans.generations import SegmentLog
    from event_store_spark.plans.ivf import _ivf_index
    from event_store_spark.plans.vector_index import VectorIndex
    from event_store_spark.functions.vectors import as_double

    emb = load_table(spark, sf_smoke, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    centroids, batch_assigned = _ivf_index(spark, sf_smoke, "full")

    src = str(tmp_path / "emb_src")
    emb.coalesce(2).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    idx = str(tmp_path / "ivf_index")
    base = VectorIndex.build(spark, sf_smoke, str(tmp_path / "base"), "ivf")
    q = base.maintain(stream, idx, str(tmp_path / "ck"))
    q.awaitTermination(120)

    log = SegmentLog(spark, idx)
    got = {r.vec_id: r.cell for r in log.read().collect()}
    expected = {r.vec_id: r.cell for r in batch_assigned.collect()}
    assert got == expected
    cells = {
        d for seg in log.paths() for d in os.listdir(seg) if d.startswith("cell=")
    }
    assert cells == {f"cell={c}" for c in set(expected.values())}


def test_streaming_asof_enrich_across_batches(spark, tmp_path):
    """Temporal-table as-of enrichment: version state persists across
    micro-batches; each left event matches the latest version at-or-before
    its event time among versions arrived so far; unversioned keys get
    NULLs; batch-2 lefts see batch-1 versions."""
    from event_store_spark.streaming.stateful import streaming_asof_enrich

    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    # batch 1 files
    spark.createDataFrame(
        [(1, 10, 100), (1, 11, 250), (2, 20, 100)], "k bigint, lid bigint, t bigint"
    ).coalesce(1).write.mode("append").parquet(lsrc)
    spark.createDataFrame(
        [(1, 500, 50), (1, 501, 200)], "k bigint, rid bigint, t bigint"
    ).coalesce(1).write.mode("append").parquet(rsrc)
    # batch 2 files: a later left on key 1 (sees batch-1 versions from
    # STATE) and a new version it also sees; key 2 stays unversioned
    spark.createDataFrame(
        [(1, 12, 400)], "k bigint, lid bigint, t bigint"
    ).coalesce(1).write.mode("append").parquet(lsrc)
    spark.createDataFrame(
        [(1, 502, 300)], "k bigint, rid bigint, t bigint"
    ).coalesce(1).write.mode("append").parquet(rsrc)

    lstream = (
        spark.readStream.schema(spark.read.parquet(lsrc).schema)
        .option("maxFilesPerTrigger", 1).parquet(lsrc)
    )
    rstream = (
        spark.readStream.schema(spark.read.parquet(rsrc).schema)
        .option("maxFilesPerTrigger", 1).parquet(rsrc)
    )
    rows = []
    q = (
        streaming_asof_enrich(lstream, rstream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {r.lid: (r.rid, r.rt) for r in rows}
    assert got[10] == (500, 50)    # t=100: version@50 is latest <= 100
    assert got[11] == (501, 200)   # t=250: version@200
    assert got[20] == (None, None)  # key 2 never versioned
    assert got[12] == (502, 300)   # batch-2 left sees batch-2 version@300


def test_streaming_neardup_lsh_across_batches(spark, sf_smoke, tmp_path):
    """Cross-batch NEAR-dup: batch 2 replays re-keyed copies of batch 1's
    texts — every copy must report agreement 1.0 against a batch-1 doc in
    every band it occupies, via the bucket state carried across
    micro-batches. Batch-1 docs with unique texts report no match, and
    the per-row streaming signatures must agree exactly with the batch
    index build (`llm._minhash_signatures`)."""
    from event_store_spark.plans.llm import _minhash_signatures
    from event_store_spark.streaming.stateful import streaming_neardup_lsh

    docs = (
        load_table(spark, sf_smoke, "documents")
        .select("doc_id", "text")
        .where(F.size(F.split(F.trim("text"), r"\s+")) >= 3)
        .limit(40)
    )
    src = str(tmp_path / "neardup_src")
    docs.coalesce(1).write.parquet(src)
    copies = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    copies.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_neardup_lsh(stream)
        .writeStream.format("memory")
        .queryName("neardup_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    out = spark.sql("select * from neardup_out").collect()
    n_bands = 4
    n_docs = docs.count()
    assert len(out) == 2 * n_docs * n_bands  # one row per (doc, band)

    # every re-keyed copy matches its original at agreement 1.0 in EVERY band
    copy_rows = [r for r in out if r.doc_id >= 1_000_000]
    assert len(copy_rows) == n_docs * n_bands
    for r in copy_rows:
        assert r.agreement == 1.0, r
        assert r.match_doc_id is not None and r.match_doc_id < 1_000_000, r

    # batch-1 rows may only match LOWER batch-1 doc_ids (doc_id processing
    # order within the micro-batch)
    for r in out:
        if r.doc_id < 1_000_000 and r.match_doc_id is not None:
            assert r.match_doc_id < r.doc_id, r

    # the per-row streaming signature build == the batch index build:
    # bucket occupancy must be identical, so every batch-index band
    # collision between the 40 docs appears as a streamed match row too
    sig = _minhash_signatures(spark, sf_smoke).join(
        docs.select("doc_id"), "doc_id"
    )
    a, b = sig.alias("a"), sig.alias("b")
    batch_pairs = {
        (r.d, r.band)
        for r in a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bandkey") == F.col("b.bandkey"))
            & (F.col("a.doc_id") > F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d"), F.col("a.band").alias("band"))
        .collect()
    }
    stream_pairs = {
        (r.doc_id, r.band)
        for r in out
        if r.doc_id < 1_000_000 and r.match_doc_id is not None
    }
    assert stream_pairs == batch_pairs


def test_cms_contract_and_estimates(spark, sf_correct):
    """The in-plan count-min sketch: estimates never underestimate, stay
    within ceil(e/width * N) of exact, and the sketch table itself is
    conserved — each seed row's buckets sum to the full stream length."""
    from event_store_spark.plans.sketches import CMS_DEPTH

    rows = QUERIES["approx_token_counts_cms"](spark, sf_correct).collect()
    assert len(rows) == 20
    assert all(r.no_underestimate for r in rows)
    assert all(r.within_eps for r in rows)
    # the heaviest token's estimate is tight in practice (width >> #heavy)
    top = rows[0]
    assert top.est_cnt - top.exact_cnt <= top.exact_cnt  # sane, not 2x off


def test_streaming_semantic_dedup_matches_batch(spark, sf_smoke, tmp_path):
    """Cross-batch SemDeDup: embeddings delivered in vec_id order across
    two micro-batches must reproduce the batch operator's greedy
    min-id-survives dropped set exactly — cell assignment is the same
    broadcast argmin, the member state carries across the batch boundary,
    and boundary-straddling pairs (batch-2 vector vs batch-1 member) are
    the part only the state store can see."""
    from event_store_spark.functions.vectors import as_double
    from event_store_spark.plans.ivf import _ivf_index
    from event_store_spark.plans.semantic import _dropped
    from event_store_spark.streaming.stateful import streaming_semantic_dedup

    centroids, assigned = _ivf_index(spark, sf_smoke, "full")
    batch_dropped = {r.vec_id for r in _dropped(assigned).collect()}
    assert batch_dropped  # fixture must exercise drops

    emb = load_table(spark, sf_smoke, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    n = emb.count()
    mid = n // 2
    src = str(tmp_path / "sem_src")
    # two id-ordered files -> two ordered micro-batches
    emb.where(F.col("vec_id") < mid).coalesce(1).sortWithinPartitions(
        "vec_id"
    ).write.parquet(src)
    emb.where(F.col("vec_id") >= mid).coalesce(1).sortWithinPartitions(
        "vec_id"
    ).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_semantic_dedup(stream, centroids)
        .writeStream.format("memory")
        .queryName("sem_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    out = spark.sql("select * from sem_out").collect()
    assert len(out) == n  # one verdict per vector
    streamed_dropped = {r.vec_id for r in out if r.dropped == 1}
    assert streamed_dropped == batch_dropped

    # every drop names a LOWER-id match in the same cell at sim >= tau
    from event_store_spark.plans.semantic import SEM_TAU

    cell_of = {r.vec_id: r.cell for r in assigned.select("vec_id", "cell").collect()}
    for r in out:
        if r.dropped:
            assert r.match_vec_id < r.vec_id
            assert r.sim >= SEM_TAU
            assert cell_of[r.match_vec_id] == cell_of[r.vec_id] == r.cell

    # boundary coverage: at least one drop's match sits in the OTHER batch
    assert any(
        r.dropped and r.match_vec_id < mid <= r.vec_id for r in out
    ), "fixture produced no cross-batch duplicate; split point needs moving"
