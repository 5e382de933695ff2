"""The ``ingest_bulk`` workload: write → replicate → consume → replay.

It drives the event-log path through the package's public calls only:

- producer: ``AvroEventStore.save(..., encryption_key=...)`` (Avro
  serialize, AEAD encrypt, ``EventStore.append``);
- replicator: ``Replicator.replicate`` into a files target;
- subscriber: ``Subscription.run`` whose processor runs ``decrypt_df``
  and ``from_confluent_avro`` and folds every event into a checksum;
- reader: ``AvroEventStore.load(after=cursor)``.

Events are drawn from the bundled ``events`` fixture, shuffled by the
seed, with fresh event ids and keys remapped by a seeded permutation.
"""

from __future__ import annotations

import os
import time
import zlib

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from harness import Tracer, cpu_seconds, median, percentile, timing

RECORD = "Event"
SCHEMA = {
    "type": "record",
    "name": RECORD,
    "fields": [
        {"name": "event_id", "type": "long"},
        {"name": "user_id", "type": "long"},
        {"name": "event_type", "type": "string"},
        {"name": "value", "type": "double"},
        {"name": "props", "type": "string"},
    ],
}
FIELDS = [f["name"] for f in SCHEMA["fields"]]
KID = "kms://perfbench/events"
TOPIC = "bench_events"

#: events per save
BULK_BATCH = 2000
#: cycles after the cold one that warm the JIT and are not measured
WARMUP_CYCLES = 1
#: measured cycles a run makes at least, whatever ``--seconds`` says; the
#: end-to-end figures use these first ones
MIN_CYCLES = 3


# ---------------------------------------------------------------- generator


class EventSource:
    """Seeded events built from the fixture's rows.

    Rows are sampled with replacement from the fixture, event ids run on
    from 0, users are remapped through a seeded permutation (the key is
    the remapped user), and values are kept to whole cents so the
    checksum below is exact on both sides.
    """

    def __init__(self, fixture_dir: str, seed: int):
        pool = pq.read_table(os.path.join(fixture_dir, "events.parquet")).to_pandas()
        self.rng = np.random.default_rng(seed)
        self.pool = pool.sample(frac=1.0, random_state=seed).reset_index(drop=True)
        users = int(self.pool["user_id"].max()) + 1
        self.user_map = self.rng.permutation(users) + 1000 * (seed % 1000)
        self.next_id = 0
        self.t0 = pd.Timestamp("2025-01-01")

    def batch(self, n: int) -> pd.DataFrame:
        rows = self.pool.iloc[self.rng.integers(0, len(self.pool), n)]
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        users = self.user_map[rows["user_id"].to_numpy()]
        return pd.DataFrame(
            {
                "key": [f"user-{u}" for u in users],
                "timestamp": self.t0 + pd.to_timedelta(ids, unit="ms"),
                "event_id": ids,
                "user_id": users.astype(np.int64),
                "event_type": rows["event_type"].to_numpy(),
                "value": np.round(rows["value"].to_numpy(), 2),
                "props": rows["props"].to_numpy(),
            }
        )


def checksum(pdf: pd.DataFrame) -> int:
    """Order-insensitive checksum of a batch: the sum of each row's CRC-32
    over ``event_id|user_id|event_type|cents|props``."""
    cents = np.rint(pdf["value"].to_numpy() * 100).astype(np.int64)
    return sum(
        zlib.crc32(f"{e}|{u}|{t}|{c}|{p}".encode())
        for e, u, t, c, p in zip(
            pdf["event_id"], pdf["user_id"], pdf["event_type"], cents, pdf["props"]
        )
    )


def checksum_col(payload: str):
    """The same row CRC-32 as :func:`checksum`, over a decoded payload struct."""
    from pyspark.sql import functions as F

    p = lambda f: F.col(f"{payload}.{f}")  # noqa: E731
    return F.crc32(
        F.concat_ws(
            "|",
            p("event_id"),
            p("user_id"),
            p("event_type"),
            F.round(p("value") * 100).cast("long"),
            p("props"),
        )
    )


# ----------------------------------------------------------------- pipeline


class Consumer:
    """The subscriber's processor: decrypt, decode, fold per lsn.

    Every save is one lsn, so the per-lsn (count, checksum) this keeps is
    what the generator's batch must match. It runs on the streaming
    callback thread; ``parent`` is the span of the drain that started it.
    """

    def __init__(self, encryptor, sid: int, tracer: Tracer):
        self.encryptor = encryptor
        self.sid = sid
        self.tracer = tracer
        self.parent: dict | None = None
        self.by_lsn: dict[int, list[int]] = {}  # lsn -> [count, checksum]

    def __call__(self, df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from event_store_spark.avro.spark import from_confluent_avro

        with self.tracer.span("streaming.subscribe.process", "streaming", parent=self.parent):
            decrypted = self.encryptor.decrypt_df(df)
            payload = from_confluent_avro(F.col("data"), SCHEMA, self.sid)
            rows = (
                decrypted.select("lsn", payload.alias("p"))
                .groupBy("lsn")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(checksum_col("p")).alias("crc"),
                )
                .collect()
            )
        for r in rows:
            got = self.by_lsn.setdefault(r["lsn"], [0, 0])
            got[0] += r["n"]
            got[1] += r["crc"]


class Pipeline:
    """One store with its replicator and subscriber under a run directory."""

    def __init__(self, spark, run_dir: str, tracer: Tracer):
        from event_store_spark.avro import LocalSchemaRegistry
        from event_store_spark.core.avro_store import AvroEventStore
        from event_store_spark.core.state import OffsetsTable, ProgressStore
        from event_store_spark.crypto import EventEncryptor
        from event_store_spark.streaming import Replicator
        from event_store_spark.streaming.subscribe import Subscription

        self.spark = spark
        self.tracer = tracer
        self.registry = LocalSchemaRegistry()
        self.sid = self.registry.register(SCHEMA)
        key = np.random.default_rng(7).bytes(32)
        self.encryptor = EventEncryptor({KID: key})
        self.store = AvroEventStore(
            spark, os.path.join(run_dir, "store"), self.registry, self.encryptor
        )
        self.target = os.path.join(run_dir, "replicated")
        self.replicator = Replicator(
            self.store,
            self.target,
            ProgressStore(os.path.join(run_dir, "progress.json")),
            os.path.join(run_dir, "ckpt", "replicator"),
        )
        self.subscription = Subscription(
            self.store,
            OffsetsTable(os.path.join(run_dir, "offsets.json")),
            os.path.join(run_dir, "ckpt", "subscriber"),
        )
        self.consumer = Consumer(self.encryptor, self.sid, tracer)
        # per batch, in send order: lsn, events, checksum, cursor
        self.sent: list[dict] = []
        self.failures: list[str] = []
        self.attempted = 0
        # traced saves only: Spark jobs and topic files each one added
        self.counters: dict[str, list[float]] = {"jobs": [], "files": []}
        self.lag_end = 0

    def topic_files(self) -> list[str]:
        path = self.store.topic_path(TOPIC)
        return [
            os.path.join(d, f)
            for d, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        ]

    def save(self, pdf: pd.DataFrame, expected: tuple[int, int], drop_one: bool = False):
        """Save one generated batch whose (count, checksum) is
        ``expected``; ``drop_one`` withholds an event from the store while
        the expectation keeps it (the smoke test's injected defect)."""
        df = self.spark.createDataFrame(pdf.iloc[1:] if drop_one else pdf)
        traced = self.tracer.active
        if traced:
            sc = self.spark.sparkContext
            group = f"perfbench-append-{len(self.sent)}"
            sc.setJobGroup(group, "perfbench append")
            files_before = len(self.topic_files())
        try:
            with self.tracer.span("core.save", "core"):
                cursor = self.store.save(TOPIC, df, RECORD, encryption_key=KID)
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        if traced:
            self.counters["jobs"].append(len(sc.statusTracker().getJobIdsForGroup(group)))
            self.counters["files"].append(len(self.topic_files()) - files_before)
        self.sent.append(
            {
                "lsn": cursor.lsn,
                "n": expected[0],
                "crc": expected[1],
                "cursor": cursor,
                "acked_wall": time.time(),
            }
        )
        return cursor

    def replay(self, after_index: int) -> float:
        """Keyset replay past the cursor of send ``after_index`` (-1: from
        the start); checks it returns exactly the events sent after it."""
        from pyspark.sql import functions as F

        from event_store_spark.core.cursor import Cursor

        cursor = self.sent[after_index]["cursor"] if after_index >= 0 else Cursor.zero()
        later = self.sent[after_index + 1 :]
        want = (sum(b["n"] for b in later), sum(b["crc"] for b in later))
        self.attempted += 1
        t0 = time.perf_counter()
        with self.tracer.span("core.replay", "core"):
            row = (
                self.store.load(TOPIC, RECORD, after=cursor)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.coalesce(F.sum(checksum_col("payload")), F.lit(0)).alias("crc"),
                )
                .first()
            )
        took = time.perf_counter() - t0
        if (row["n"], row["crc"]) != want:
            self.failures.append(
                f"replay after {cursor.serialize()}: got {row['n']} events "
                f"(checksum {row['crc']}), want {want[0]} ({want[1]})"
            )
        return took

    def check_deliveries(self) -> None:
        """Every sent event consumed exactly once: per send, count and
        checksum equal the generator's."""
        for b in self.sent:
            self.attempted += 1
            got = self.consumer.by_lsn.get(b["lsn"])
            if got != [b["n"], b["crc"]]:
                self.failures.append(
                    f"lsn {b['lsn']}: consumed (count, checksum) {got}, "
                    f"sent {[b['n'], b['crc']]}"
                )

    def check_target_and_lag(self) -> None:
        """The replicated target holds every event once (no duplicate
        (lsn, id)), and neither the replicator nor the subscriber lags."""
        from pyspark.sql import functions as F

        total = sum(b["n"] for b in self.sent)
        self.attempted += 1
        row = (
            self.spark.read.parquet(f"{self.target}/{TOPIC}")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct("lsn", "id").alias("distinct"),
            )
            .first()
        )
        if row["n"] != row["distinct"] or row["n"] != total:
            self.failures.append(
                f"replicated target: {row['n']} rows, {row['distinct']} distinct "
                f"(lsn, id), {total} sent"
            )
        self.attempted += 1
        rep_lag = self.replicator.lag(TOPIC)
        sub_lag = self.subscription.lag(TOPIC)
        self.lag_end = rep_lag + sub_lag
        if rep_lag or sub_lag:
            self.failures.append(f"lag at end: replicator {rep_lag}, subscriber {sub_lag}")

    def replicate_latencies(self) -> list[float]:
        """Per send: seconds from the save's acknowledgement to the end of
        the replication micro-batch that covered it (the target directory
        named by that batch's high-water cursor)."""
        base = f"{self.target}/{TOPIC}"
        marks = []
        for d in os.listdir(base) if os.path.isdir(base) else []:
            if d.startswith("cursor="):
                lsn = int(d[len("cursor=") :].split("_")[0])
                marks.append((lsn, os.path.getmtime(os.path.join(base, d))))
        out = []
        for b in self.sent:
            done = [m for lsn, m in marks if lsn >= b["lsn"]]
            if done:
                out.append(min(done) - b["acked_wall"])
        return out


def progress_stats(queries) -> dict[str, list[float]]:
    """Per-trigger durations from ``StreamingQuery.recentProgress`` of
    triggers that read data."""
    out: dict[str, list[float]] = {
        "triggerExecution": [],
        "latestOffset": [],
        "addBatch": [],
        "walCommit": [],
    }
    for q in queries:
        for p in q.recentProgress:
            if not p.get("numInputRows"):
                continue
            for k in out:
                if k in p.get("durationMs", {}):
                    out[k].append(float(p["durationMs"][k]))
    return out


# ------------------------------------------------------------ layer probes


def layer_probe(pipe: Pipeline, pdf: pd.DataFrame) -> dict[str, float]:
    """Time each public layer call of the ingest path on its own, on one
    batch, writing to the ``noop`` sink: serialize, encrypt, append of
    the pre-encoded batch, decrypt, decode, and a bare ``read_events``."""
    from pyspark.sql import functions as F

    from event_store_spark.avro.spark import from_confluent_avro, to_confluent_avro
    from event_store_spark.core.cursor import Cursor

    spark, tr = pipe.spark, pipe.tracer
    n = len(pdf)

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def timed(name: str, layer: str, fn) -> float:
        t0 = time.perf_counter()
        with tr.span(name, layer, root=True):
            fn()
        return time.perf_counter() - t0

    src = spark.createDataFrame(pdf).persist()
    src.count()
    framed = [pipe.registry.serialize(RECORD, r) for r in pdf[FIELDS].to_dict("records")]
    plain = spark.createDataFrame(
        pd.DataFrame(
            {
                "key": [k.encode() for k in pdf["key"]],
                "timestamp": pdf["timestamp"],
                "data": framed,
            }
        )
    ).withColumn("metadata", F.lit(None).cast("map<string,binary>")).persist()
    plain.count()
    out = {
        "avro.serialize_s": timed(
            "avro.serialize", "avro",
            lambda: noop(src.select(to_confluent_avro(F.struct(*FIELDS), SCHEMA, pipe.sid))),
        ),
        "avro.decode_s": timed(
            "avro.decode", "avro",
            lambda: noop(plain.select(from_confluent_avro(F.col("data"), SCHEMA, pipe.sid))),
        ),
        "crypto.encrypt_s": timed(
            "crypto.encrypt", "crypto",
            lambda: noop(pipe.encryptor.encrypt_df(plain, KID)),
        ),
    }
    encrypted = pipe.encryptor.encrypt_df(plain, KID).persist()
    encrypted.count()
    probe_topic = "probe_events"
    out["core.append_s"] = timed(
        "core.append", "core",
        lambda: pipe.store.append(probe_topic, encrypted, validate=False),
    )
    stored = pipe.store.read_events(probe_topic).persist()
    stored.count()
    out["crypto.decrypt_s"] = timed(
        "crypto.decrypt", "crypto", lambda: noop(pipe.encryptor.decrypt_df(stored))
    )
    mid = pipe.sent[len(pipe.sent) // 2]["cursor"] if pipe.sent else Cursor.zero()
    out["core.read_events_s"] = timed(
        "core.read_events", "core",
        lambda: noop(pipe.store.read_events(TOPIC, after=mid)),
    )
    for df in (src, plain, encrypted, stored):
        df.unpersist()
    out["avro.bytes_per_event"] = sum(len(f) for f in framed) / n
    out["avro.events_per_s"] = n / (out["avro.serialize_s"] + out["avro.decode_s"])
    out["crypto.events_per_s"] = n / (out["crypto.encrypt_s"] + out["crypto.decrypt_s"])
    return out


def pipeline_layers(pipe: Pipeline, queries) -> dict[str, float]:
    """Per-layer numbers read after the run from counters, progress and
    the files on disk."""
    prog = progress_stats(queries)
    files = pipe.topic_files()
    events = sum(b["n"] for b in pipe.sent)
    out = {
        "core.jobs_per_append": median(pipe.counters["jobs"]),
        "core.files_per_append": median(pipe.counters["files"]),
        "core.topic_files": float(len(files)),
        "core.bytes_per_event": sum(os.path.getsize(f) for f in files) / max(events, 1),
        "streaming.microbatches": float(len(prog["triggerExecution"])),
        "streaming.trigger_p50_ms": median(prog["triggerExecution"]),
        "streaming.latest_offset_p50_ms": median(prog["latestOffset"]),
        "streaming.add_batch_p50_ms": median(prog["addBatch"]),
        "streaming.wal_commit_p50_ms": median(prog["walCommit"]),
        "streaming.replicate_latency_p50_s": median(pipe.replicate_latencies()),
        "streaming.lag_end": float(pipe.lag_end),
    }
    return out


# ---------------------------------------------------------------- workloads


def run_bulk(spark, ctx) -> dict:
    """Closed loop, one writer: save a large encrypted batch, drain the
    replicator and the subscriber (``availableNow``), then replay past a
    cursor the seed picks among the last two. One cycle is one operation.
    The first cycle is the cold one; it and the warm-up cycles after it
    run before the timed window."""
    t_setup, cpu_setup = time.perf_counter(), cpu_seconds()
    tracer: Tracer = ctx["tracer"]
    pipe = Pipeline(spark, ctx["run_dir"], tracer)
    source = EventSource(ctx["fixture_dir"], ctx["seed"])
    pick = np.random.default_rng(ctx["seed"] + 1)
    queries = []
    cycles, cpus, appends, delivers, replays, replicates, subscribes = [], [], [], [], [], [], []
    traced_ops, plain_ops = [], []

    def cycle(i: int) -> tuple[float, float]:
        pdf = source.batch(BULK_BATCH)
        expected = (len(pdf), checksum(pdf))
        tracer.active = tracer.enabled and i % 2 == 0
        cpu0 = cpu_seconds()
        t0 = time.perf_counter()
        with tracer.span("op.batch", "run", root=True, index=i):
            pipe.save(pdf, expected, drop_one=ctx["inject"] == "drop-event" and i == 1)
            t_ack = time.perf_counter()
            with tracer.span("streaming.replicate", "streaming"):
                q = pipe.replicator.replicate(TOPIC, available_now=True)
                q.awaitTermination()
            t_rep = time.perf_counter()
            with tracer.span("streaming.subscribe", "streaming") as sub_span:
                pipe.consumer.parent = sub_span
                s = pipe.subscription.run(TOPIC, pipe.consumer, available_now=True)
                s.awaitTermination()
            t_sub = time.perf_counter()
            took = pipe.replay(max(-1, len(pipe.sent) - 2 - int(pick.integers(0, 2))))
        total = time.perf_counter() - t0
        cpu = cpu_seconds() - cpu0
        queries.extend([q, s])
        if i > WARMUP_CYCLES:
            cycles.append(total)
            cpus.append(cpu)
            appends.append(t_ack - t0)
            delivers.append(t_sub - t0)
            replays.append(took)
            replicates.append(t_rep - t_ack)
            subscribes.append(t_sub - t_rep)
            (traced_ops if tracer.active else plain_ops).append(total)
        return total, cpu

    setup_extra = time.perf_counter() - t_setup
    setup_extra_cpu = cpu_seconds() - cpu_setup
    cold, cold_cpu = cycle(0)
    for i in range(1, WARMUP_CYCLES + 1):
        cycle(i)
    window_start = time.perf_counter()
    i = WARMUP_CYCLES + 1
    while len(cycles) < MIN_CYCLES or time.perf_counter() - window_start < ctx["seconds"]:
        cycle(i)
        i += 1
    tracer.active = tracer.enabled
    pipe.check_deliveries()
    pipe.check_target_and_lag()
    events = BULK_BATCH * len(cycles)
    ops = timing(cycles)
    result = {
        "setup_extra_s": setup_extra,
        "setup_extra_cpu_s": setup_extra_cpu,
        "e2e": {
            # the best measured cycle: the JIT is still warming through
            # them, and a cycle a busy neighbour slowed does not move it
            "op_cpu_s": min(cpus[:MIN_CYCLES]),
            "cold_cpu_s": cold_cpu,
        },
        "named": {
            "ingest_events_per_s": (events / sum(cycles), "events/s"),
            "append_p50_s": (median(appends), "s"),
            "append_p90_s": (percentile(appends, 90), "s"),
            "deliver_p50_s": (median(delivers), "s"),
            "deliver_p90_s": (percentile(delivers, 90), "s"),
            "replay_p50_s": (median(replays), "s"),
        },
        "samples": {
            "cold_cycle_s": cold,
            "cycle": ops,
            "cycle_cpu": timing(cpus),
            "cycle_s_all": cycles,
            "cycle_cpu_s_all": cpus,
            "append": timing(appends),
            "deliver": timing(delivers),
            "replay": timing(replays),
        },
        "attempted": pipe.attempted,
        "failures": pipe.failures,
    }
    if tracer.enabled:
        layers = pipeline_layers(pipe, queries)
        layers["core.save_s"] = median(appends)
        layers["core.replay_s"] = median(replays)
        layers["streaming.replicate_s"] = median(replicates)
        layers["streaming.subscribe_s"] = median(subscribes)
        layers.update(layer_probe(pipe, source.batch(BULK_BATCH)))
        if traced_ops and plain_ops:
            layers["trace.overhead_pct"] = (median(traced_ops) / median(plain_ops) - 1) * 100
        result["layers"] = layers
    return result
