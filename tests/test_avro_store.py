"""AvroEventStore: one-call save/load with serde + optional AEAD, and
micro-batch bounding (O2) on replication."""

from __future__ import annotations

import datetime

from event_store_spark.avro import LocalSchemaRegistry
from event_store_spark.core.avro_store import AvroEventStore
from event_store_spark.core.state import ProgressStore
from event_store_spark.crypto import EventEncryptor
from event_store_spark.streaming import Replicator

SCHEMA = {
    "type": "record",
    "name": "OrderPlaced",
    "fields": [
        {"name": "item", "type": "string"},
        {"name": "qty", "type": "long"},
    ],
}
TS = datetime.datetime(2025, 2, 1, 8, 30)


def test_save_load_plaintext(spark, tmp_path):
    reg = LocalSchemaRegistry()
    reg.register(SCHEMA)
    store = AvroEventStore(spark, str(tmp_path / "s"), reg)
    df = spark.createDataFrame(
        [("u1", "widget", 3, TS), ("u2", "gadget", 1, TS)],
        "key string, item string, qty long, timestamp timestamp",
    )
    cur = store.save("orders_events", df, "OrderPlaced")
    assert cur.lsn == 1
    out = {r.payload.item: r.payload.qty for r in store.load("orders_events", "OrderPlaced").collect()}
    assert out == {"widget": 3, "gadget": 1}


def test_save_load_encrypted_roundtrip(spark, tmp_path):
    reg = LocalSchemaRegistry()
    sid = reg.register(SCHEMA)
    enc = EventEncryptor({"kms://k": EventEncryptor.generate_key()})
    store = AvroEventStore(spark, str(tmp_path / "s"), reg, encryptor=enc)
    df = spark.createDataFrame(
        [("u1", "secret-item", 9, TS, {"mTest": bytearray(b"v")})],
        "key string, item string, qty long, timestamp timestamp, metadata map<string,binary>",
    )
    store.save("sec_events", df, "OrderPlaced", encryption_key="kms://k")
    raw = store.read_events("sec_events").first()
    assert bytes(raw.metadata["kid"]) == b"kms://k"
    plain_frame = reg.serialize("OrderPlaced", {"item": "secret-item", "qty": 9})
    assert bytes(raw.data) != plain_frame  # ciphertext at rest
    out = store.load("sec_events", "OrderPlaced").first()
    assert out.payload.item == "secret-item" and out.payload.qty == 9
    assert bytes(out.metadata["mTest"]) == b"v"


def test_replication_micro_batch_bounding(spark, tmp_path):
    """maxFilesPerTrigger bounds each replication transaction (O2 — the
    reference's LIMIT-100 batched pulls)."""
    reg = LocalSchemaRegistry()
    reg.register(SCHEMA)
    store = AvroEventStore(spark, str(tmp_path / "s"), reg)
    for i in range(3):
        df = spark.createDataFrame(
            [(f"u{i}", f"it{i}", i, TS)], "key string, item string, qty long, timestamp timestamp"
        )
        store.save("mb_events", df, "OrderPlaced")
    progress = ProgressStore(str(tmp_path / "p.json"))
    rep = Replicator(
        store,
        str(tmp_path / "k"),
        progress,
        str(tmp_path / "ck"),
        max_files_per_trigger=1,
    )
    q = rep.replicate("mb_events")
    q.awaitTermination(120)
    # one micro-batch per file → final batch id ≥ 2 (0-indexed), all rows out
    assert progress.last_batch_id("mb_events") >= 2
    assert spark.read.parquet(rep.target_path("mb_events")).count() == 3


SCHEMA_V2 = {
    "type": "record",
    "name": "OrderPlaced",
    "fields": [
        {"name": "item", "type": "string"},
        {"name": "qty", "type": "long"},
        {"name": "discount", "type": ["null", "double"], "default": None},
        {"name": "channel", "type": "string", "default": "web"},
    ],
}


def test_load_decodes_mixed_schema_versions(spark, tmp_path):
    """Rows written before a schema evolution keep decoding: each frame is
    resolved by ITS writer id; reader-schema fields the writer lacked take
    their Avro defaults (registry contract, ADVICE r1)."""
    reg = LocalSchemaRegistry()
    v1 = reg.register(SCHEMA)
    store = AvroEventStore(spark, str(tmp_path / "s"), reg)
    df1 = spark.createDataFrame(
        [("u1", "widget", 3, TS)],
        "key string, item string, qty long, timestamp timestamp",
    )
    store.save("evo_events", df1, "OrderPlaced")

    v2 = reg.register(SCHEMA_V2)
    assert v2 != v1  # changed schema under the same subject → new id
    df2 = spark.createDataFrame(
        [("u2", "gadget", 1, 0.25, "store", TS)],
        "key string, item string, qty long, discount double, channel string, "
        "timestamp timestamp",
    )
    store.save("evo_events", df2, "OrderPlaced")

    rows = {
        r.payload.item: r.payload
        for r in store.load("evo_events", "OrderPlaced").collect()
    }
    assert rows["widget"].qty == 3
    assert rows["widget"].discount is None  # nullable default
    assert rows["widget"].channel == "web"  # declared default
    assert rows["gadget"].discount == 0.25
    assert rows["gadget"].channel == "store"


def test_strict_decode_still_rejects_foreign_frames(spark, tmp_path):
    """Without writer_schemas the single-version check stays strict."""
    import pandas as pd
    import pytest
    from event_store_spark.avro.codec import RecordCodec, frame
    from event_store_spark.avro.spark import from_confluent_avro
    from pyspark.sql import functions as F

    codec = RecordCodec(SCHEMA)
    body = codec.encode({"item": "x", "qty": 1})
    df = spark.createDataFrame([(frame(99, body),)], "data binary")
    with pytest.raises(Exception, match="schema id mismatch"):
        df.select(from_confluent_avro(F.col("data"), SCHEMA, 1)).collect()


def test_decode_newer_frames_with_older_reader(spark):
    """Evolution, reverse direction: frames written with the NEWER schema
    decode under the older reader — extra writer fields are discarded
    (reader projection), mirroring Avro reader/writer resolution."""
    from event_store_spark.avro.codec import RecordCodec, frame
    from event_store_spark.avro.spark import from_confluent_avro
    from pyspark.sql import functions as F

    v2 = RecordCodec(SCHEMA_V2)
    body = v2.encode(
        {"item": "widget", "qty": 4, "discount": 0.1, "channel": "app"}
    )
    df = spark.createDataFrame([(frame(2, body),)], "data binary")
    out = df.select(
        from_confluent_avro(
            F.col("data"), SCHEMA, 1, writer_schemas={1: SCHEMA, 2: SCHEMA_V2}
        ).alias("p")
    ).first()
    assert out.p.item == "widget" and out.p.qty == 4
    assert list(out.p.asDict()) == ["item", "qty"]  # v2-only fields dropped


def test_encrypted_and_plaintext_saves_share_topic_and_key_type(spark, tmp_path):
    """save(topic, df, name) and save(..., encryption_key=...) are
    interchangeable per topic (EventStore.java:94): the encrypted path
    records the CALLER's key_type, so mixing them neither trips the
    descriptor key-type check nor degrades the typed key view."""
    import datetime

    from event_store_spark.avro import LocalSchemaRegistry
    from event_store_spark.core.avro_store import AvroEventStore
    from event_store_spark.crypto.aead import EventEncryptor

    reg = LocalSchemaRegistry()
    reg.register({"type": "record", "name": "Mix",
                  "fields": [{"name": "text", "type": "string"}]})
    enc = EventEncryptor({"kms://m": EventEncryptor.generate_key()})
    store = AvroEventStore(spark, str(tmp_path / "store"), reg, enc)
    ts = datetime.datetime(2025, 1, 4, 12, 0, 0)
    df1 = spark.createDataFrame([("u1", "plain", ts)], "key string, text string, timestamp timestamp")
    df2 = spark.createDataFrame([("u2", "sealed", ts)], "key string, text string, timestamp timestamp")

    store.save("mix_events", df1, "Mix", key_type="string")
    store.save("mix_events", df2, "Mix", key_type="string", encryption_key="kms://m")

    out = store.load("mix_events", "Mix")
    got = {r.payload.text for r in out.collect()}
    assert got == {"plain", "sealed"}
    typed = store.read_events("mix_events", typed_key=True)
    keys = {r.key_view for r in typed.collect()}
    assert keys == {"u1", "u2"}  # typed view intact for BOTH rows


def _decrypt_stored(store, topic, enc):
    """Each stored row's plaintext, opened with the bytes API and the
    reference AAD layout: {typed key: Confluent frame}."""
    from pyspark.sql import functions as F

    from event_store_spark.crypto import build_aad

    out = {}
    rows = store.read_events(topic).select(
        "key", "metadata", "data", F.unix_millis("timestamp").alias("ts_ms")
    )
    for r in rows.collect():
        kid = bytes(r.metadata["kid"]).decode()
        md = {k: bytes(v) for k, v in r.metadata.items()}
        aad = build_aad(bytes(r.key), r.ts_ms, md)
        out[bytes(r.key).decode()] = enc.decrypt(bytes(r.data), aad, kid)
    return out


def test_fused_encrypted_save_opens_with_build_aad_and_codec(spark, tmp_path):
    """The encrypted save serializes and seals in ONE Python UDF; what it
    stores opens with EventEncryptor.decrypt under build_aad and decodes
    with RecordCodec — the same bytes as to_confluent_avro + encrypt_df."""
    from pyspark.sql import functions as F

    from event_store_spark.avro import RecordCodec, unframe

    reg = LocalSchemaRegistry()
    sid = reg.register(SCHEMA)
    enc = EventEncryptor({"kms://k": EventEncryptor.generate_key()})
    store = AvroEventStore(spark, str(tmp_path / "s"), reg, encryptor=enc)
    df = spark.createDataFrame(
        [
            ("u1", "widget", 3, TS, {"zTest": bytearray(b"z"), "aTest": bytearray(b"a")}),
            ("u2", "gadget", 1, TS, None),
        ],
        "key string, item string, qty long, timestamp timestamp, metadata map<string,binary>",
    )
    store.save("fused_events", df, "OrderPlaced", encryption_key="kms://k")
    opened = _decrypt_stored(store, "fused_events", enc)
    codec = RecordCodec(SCHEMA)
    decoded = {}
    for key, plain in opened.items():
        frame_sid, body = unframe(plain)
        assert frame_sid == sid
        decoded[key] = codec.decode(body)
        assert plain == reg.serialize("OrderPlaced", decoded[key])
    assert decoded == {"u1": {"item": "widget", "qty": 3}, "u2": {"item": "gadget", "qty": 1}}

    staged = df.select("key", "timestamp", "metadata", F.struct("item", "qty").alias("p"))
    sealed = enc.encrypt_avro_df(staged, F.col("p"), SCHEMA, sid, "kms://k")
    plan = sealed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1


def test_fused_save_nulls_nan_like_to_confluent_avro(spark, tmp_path):
    """Arrow hands null numeric cells to pandas as NaN; the fused save
    restores them to Avro null for nullable fields exactly as
    to_confluent_avro does (a literal NaN in a nullable double too)."""
    from pyspark.sql import functions as F

    from event_store_spark.avro.spark import to_confluent_avro

    schema = {
        "type": "record",
        "name": "Reading",
        "fields": [
            {"name": "text", "type": "string"},
            {"name": "n", "type": ["null", "long"], "default": None},
            {"name": "x", "type": ["null", "double"], "default": None},
        ],
    }
    reg = LocalSchemaRegistry()
    sid = reg.register(schema)
    enc = EventEncryptor({"kms://k": EventEncryptor.generate_key()})
    store = AvroEventStore(spark, str(tmp_path / "s"), reg, encryptor=enc)
    df = spark.createDataFrame(
        [("a", "a", 7, 1.5, TS), ("b", "b", None, float("nan"), TS), ("c", "c", None, None, TS)],
        "key string, text string, n bigint, x double, timestamp timestamp",
    )
    want = {
        r.key: bytes(r.data)
        for r in df.select(
            "key", to_confluent_avro(F.struct("text", "n", "x"), schema, sid).alias("data")
        ).collect()
    }
    store.save("nan_events", df, "Reading", encryption_key="kms://k")
    assert _decrypt_stored(store, "nan_events", enc) == want
    loaded = store.load("nan_events", "Reading").collect()
    decoded = {bytes(r.key).decode(): r.payload for r in loaded}
    assert decoded["b"].n is None and decoded["b"].x is None
