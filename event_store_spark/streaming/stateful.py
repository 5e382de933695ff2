"""Custom stateful streaming operators via applyInPandasWithState.

The escape hatch for semantics the built-in streaming aggregations can't
express (the brief's `applyInPandasWithState` path): arbitrary per-key
state evolved batch-by-batch, with timeout hooks for expiry. State lives in
the streaming state store (RocksDB/HDFS-backed on a cluster), so
parallelism is per-key and restart-safe via the checkpoint — the
Spark-native version of a Kafka Streams `Processor` with a state store.

Shipped example: per-user running counters (event count + value sum) in
update mode — the streaming twin of `events.groupBy(user_id).agg(...)`,
pinned against that batch plan by the test.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id bigint, total_events bigint, total_value double"
STATE_SCHEMA = "total_events bigint, total_value double"


def _update_user_counters(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (total_events, total_value) = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        total_events += len(pdf)
        total_value += float(pdf["value"].sum())
    state.update((total_events, total_value))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "total_events": [total_events],
            "total_value": [total_value],
        }
    )


def running_user_counters(events_stream: DataFrame) -> DataFrame:
    """Per-user running (count, sum(value)) over a streaming events table.

    Sink note: pair with a checkpoint-recoverable sink (foreachBatch, kafka,
    file-append) — the memory sink cannot restart from a checkpoint, so
    state continuity across restarts is lost with it.
    """
    from event_store_spark.shipping import ensure_shipped

    ensure_shipped()
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _update_user_counters,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


DEDUP_OUTPUT_SCHEMA = "content_hash string, doc_id bigint"
DEDUP_STATE_SCHEMA = "winner bigint"


def _first_seen(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        for _ in pdfs:  # hash already admitted in an earlier batch: drop all
            pass
        yield pd.DataFrame(
            {
                "content_hash": pd.Series([], dtype=object),
                "doc_id": pd.Series([], dtype="int64"),
            }
        )
        return
    winner: int | None = None
    for pdf in pdfs:
        batch_min = int(pdf["doc_id"].min())
        winner = batch_min if winner is None else min(winner, batch_min)
    state.update((winner,))
    yield pd.DataFrame({"content_hash": [key[0]], "doc_id": [winner]})


def streaming_first_seen_dedup(docs_stream: DataFrame) -> DataFrame:
    """Cross-batch exact dedup: each content hash is admitted ONCE, ever —
    the ingest-time dedup a training pipeline runs on an unbounded corpus
    (q30's batch dedup, as a stream).

    Unlike `dropDuplicatesWithinWatermark`, the admission decision has no
    horizon: per-hash state (the winning doc_id) lives in the streaming
    state store, so parallelism is per-key, restarts recover from the
    checkpoint, and a duplicate arriving months later is still dropped.
    The unbounded state is the honest cost of unbounded dedup — at 100 TB
    the state store holds one 16-byte-keyed row per distinct document,
    sharded across executors (the same ledger any exact dedup must keep);
    bound it with a TTL timeout when the product semantics allow.
    """
    from pyspark.sql import functions as F

    from event_store_spark.shipping import ensure_shipped

    ensure_shipped()
    hashed = docs_stream.select(F.md5("text").alias("content_hash"), "doc_id")
    return hashed.groupBy("content_hash").applyInPandasWithState(
        _first_seen,
        outputStructType=DEDUP_OUTPUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


HH_OUTPUT_SCHEMA = "bucket int, item string, lower_count bigint"
HH_STATE_SCHEMA = "items array<string>, counts array<bigint>"

#: Misra-Gries counter budget per state bucket
HH_CAPACITY = 16


def _misra_gries(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        items, counts = state.get
        counters = dict(zip(list(items), [int(c) for c in counts]))
    else:
        counters = {}
    for pdf in pdfs:
        for item, n in pdf.groupby("item", sort=False)["item"].count().items():
            n = int(n)
            if item in counters:
                counters[item] += n
            elif len(counters) < HH_CAPACITY:
                counters[item] = n
            else:
                # decrement-all by the min needed to open a slot (batched
                # form of the classic one-at-a-time MG decrement)
                dec = min(n, min(counters.values()))
                counters = {
                    i: c - dec for i, c in counters.items() if c - dec > 0
                }
                if n - dec > 0:
                    counters[item] = n - dec
    items = sorted(counters)
    state.update((items, [counters[i] for i in items]))
    yield pd.DataFrame(
        {
            "bucket": [key[0]] * len(items),
            "item": items,
            "lower_count": [counters[i] for i in items],
        }
    )


def streaming_heavy_hitters(stream: DataFrame, item_col: str) -> DataFrame:
    """Misra-Gries heavy hitters over an unbounded stream with BOUNDED
    state: at most {HH_CAPACITY} counters per state bucket, ever — the
    streaming answer to q55's salted batch heavy hitters.

    Guarantee (per bucket): any item with true frequency > n/(capacity+1)
    is guaranteed a surviving counter, and every reported `lower_count`
    undercounts its true frequency by at most n/(capacity+1) (n = rows
    seen by that bucket). Items are hashed across a few state buckets so
    counter maintenance parallelizes; a batch top-k over the emitted
    counters gives the global candidates. Exactly the sketch to run ahead
    of an exact count when the stream can't be stored.
    """
    from pyspark.sql import functions as F

    from event_store_spark.shipping import ensure_shipped

    ensure_shipped()
    bucketed = stream.select(
        (F.abs(F.hash(F.col(item_col))) % F.lit(4)).cast("int").alias("bucket"),
        F.col(item_col).cast("string").alias("item"),
    )
    return bucketed.groupBy("bucket").applyInPandasWithState(
        _misra_gries,
        outputStructType=HH_OUTPUT_SCHEMA,
        stateStructType=HH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


ASOF_OUTPUT_SCHEMA = (
    "k bigint, lid bigint, lt bigint, rid bigint, rt bigint"
)
ASOF_STATE_SCHEMA = "rts array<bigint>, rids array<bigint>"


def _asof_enrich(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    import bisect

    if state.exists:
        rts, rids = [list(x) for x in state.get]
    else:
        rts, rids = [], []
    lefts = []
    for pdf in pdfs:
        for r in pdf.itertuples(index=False):
            if int(r.is_r) == 1:
                # keep the version list sorted by (time, id): a late right
                # version inserts in place and serves only later batches'
                # lefts (processing-order semantics, documented)
                pos = bisect.bisect_right(list(zip(rts, rids)), (int(r.t), int(r.rid)))
                rts.insert(pos, int(r.t))
                rids.insert(pos, int(r.rid))
            else:
                lefts.append((int(r.lid), int(r.t)))
    out = []
    for lid, lt in sorted(lefts, key=lambda x: (x[1], x[0])):
        pos = bisect.bisect_right(rts, lt) - 1
        if pos >= 0:
            out.append((key[0], lid, lt, rids[pos], rts[pos]))
        else:
            out.append((key[0], lid, lt, None, None))
    state.update((rts, rids))
    yield pd.DataFrame(
        out, columns=["k", "lid", "lt", "rid", "rt"]
    ) if out else pd.DataFrame(
        {c: pd.Series([], dtype="object") for c in ["k", "lid", "lt", "rid", "rt"]}
    )


def streaming_asof_enrich(left: DataFrame, right: DataFrame) -> DataFrame:
    """Temporal-table (as-of) enrichment over streams — the Flink
    `FOR SYSTEM_TIME AS OF` analog Spark has no built-in for: each left
    event picks up the LATEST right version with ``right.t <= left.t`` for
    its key, with the per-key version history held in the streaming state
    store across micro-batches.

    Inputs: ``left(k bigint, lid bigint, t bigint)`` and
    ``right(k bigint, rid bigint, t bigint)`` streams (epoch-µs times).
    Output: left rows + matched (rid, rt) or NULLs.

    Semantics are processing-order as-of: a left event is matched against
    every right version that arrived in ITS batch or earlier (versions
    sort by event time inside the state, so out-of-order arrivals within
    the retained history resolve correctly for all LATER lefts; a right
    version arriving after a left event was already emitted does not
    retract it — the same no-retraction contract Flink's processing-time
    temporal join has). State grows with versions per key; prune with a
    TTL/timeout or periodic compaction of superseded versions when the
    version stream is unbounded.
    """
    from pyspark.sql import functions as F

    from event_store_spark.shipping import ensure_shipped

    ensure_shipped()
    l = left.select(
        "k",
        F.col("lid"),
        F.lit(None).cast("bigint").alias("rid"),
        F.col("t"),
        F.lit(0).alias("is_r"),
    )
    r = right.select(
        "k",
        F.lit(None).cast("bigint").alias("lid"),
        F.col("rid"),
        F.col("t"),
        F.lit(1).alias("is_r"),
    )
    return l.unionByName(r).groupBy("k").applyInPandasWithState(
        _asof_enrich,
        outputStructType=ASOF_OUTPUT_SCHEMA,
        stateStructType=ASOF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


NEARDUP_OUTPUT_SCHEMA = (
    "doc_id bigint, band int, match_doc_id bigint, agreement double"
)
NEARDUP_STATE_SCHEMA = "doc_ids array<bigint>, sigs array<string>"


def _lsh_bucket_probe(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-(band, bandkey) bucket membership: each arriving doc is compared
    against every PRIOR member of its bucket (earlier batches via state,
    earlier docs of this batch via doc_id order), reporting the best
    signature agreement, then joins the bucket."""
    member_ids: list
    member_sigs: list
    if state.exists:
        member_ids, member_sigs = state.get
        member_ids, member_sigs = list(member_ids), list(member_sigs)
    else:
        member_ids, member_sigs = [], []
    band = int(key[0])
    rows = []
    incoming = pd.concat(list(pdfs), ignore_index=True).sort_values("doc_id")
    for doc_id, sig in zip(incoming["doc_id"], incoming["sig"]):
        comps = sig.split(",")
        best_id, best_agree = None, -1.0
        for mid, msig in zip(member_ids, member_sigs):
            agree = sum(
                a == b for a, b in zip(comps, msig.split(","))
            ) / float(len(comps))
            # ties break to the EARLIEST (lowest) member doc_id
            if agree > best_agree or (agree == best_agree and mid < best_id):
                best_id, best_agree = int(mid), agree
        rows.append(
            (
                int(doc_id),
                band,
                best_id,
                best_agree if best_id is not None else None,
            )
        )
        member_ids.append(int(doc_id))
        member_sigs.append(sig)
    state.update((member_ids, member_sigs))
    yield pd.DataFrame(
        rows, columns=["doc_id", "band", "match_doc_id", "agreement"]
    )


def streaming_neardup_lsh(docs_stream: DataFrame) -> DataFrame:
    """Cross-batch NEAR-dup detection: the streaming twin of
    `plans.incremental.dedup_incremental` — each arriving document probes
    the live MinHash-LSH index held in the streaming state store.

    Signatures are computed per-row with zero pre-aggregation (an
    `array_min` over the shingle array per seed — the map-side form of the
    batch build's min() aggregate, same md5 formula, identical values), so
    the only stateful operator is the bucket probe itself: state is keyed
    by (band, bandkey) and holds the bucket's member signatures, exactly
    the persisted-index rows the batch probe reads. Emits one row per
    (doc, band) with the best prior match's signature agreement (matched
    minhash components / signature length); the per-doc near-dup verdict
    is max(agreement) over its bands >= threshold, an O(#bands) rollup
    the consumer runs on the sink (chaining a second stateful aggregation
    onto this stream is the documented Spark multi-stateful restriction).

    Docs with fewer than 3 tokens carry no signature (same as the batch
    build, whose shingle explode drops them) and are filtered out.

    Scale: state per bucket is its member list — the same O(corpus)
    ledger the batch index persists, sharded by bucket key across
    executors; a stop-phrase-grade hot bucket is visible as a hot key and
    fails toward the same DEDUP_MAX_BUCKET-style guard batch dedup uses
    (bound members per bucket when product semantics allow).
    """
    from pyspark.sql import functions as F

    from event_store_spark.plans.llm import LSH_BAND, N_MINHASH
    from event_store_spark.functions.text import whitespace_tokens, word_ngrams
    from event_store_spark.shipping import ensure_shipped

    ensure_shipped()
    grams = docs_stream.select(
        "doc_id", whitespace_tokens("text").alias("w")
    ).where(F.size("w") >= 3).select("doc_id", word_ngrams("w", 3).alias("g"))
    mh_cols = [
        F.array_min(
            F.transform(
                F.col("g"), lambda sh: F.md5(F.concat(F.lit(f"{seed}|"), sh))
            )
        ).alias(f"mh{seed}")
        for seed in range(N_MINHASH)
    ]
    sigs = grams.select("doc_id", *mh_cols)
    n_bands = N_MINHASH // LSH_BAND
    band_entries = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.concat_ws(
                    ",",
                    *[F.col(f"mh{band * LSH_BAND + j}") for j in range(LSH_BAND)],
                ).alias("bandkey"),
            )
            for band in range(n_bands)
        ]
    )
    full_sig = F.concat_ws(",", *[F.col(f"mh{s}") for s in range(N_MINHASH)])
    exploded = sigs.select(
        "doc_id", full_sig.alias("sig"), F.explode(band_entries).alias("bk")
    ).select(
        "doc_id",
        "sig",
        F.col("bk.band").alias("band"),
        F.col("bk.bandkey").alias("bandkey"),
    )
    return exploded.groupBy("band", "bandkey").applyInPandasWithState(
        _lsh_bucket_probe,
        outputStructType=NEARDUP_OUTPUT_SCHEMA,
        stateStructType=NEARDUP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CEP_OUTPUT_SCHEMA = "user_id bigint, match_idx int, start_us bigint, end_us bigint"
CEP_STATE_SCHEMA = "step int, start_us bigint, n_matches int"


def _cep_fold(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """The `operators.cep.match_pattern` DFA with its (step, anchor)
    carried in the state store across micro-batches."""
    n_steps = None
    step, start, n_matches = (state.get if state.exists else (0, 0, 0))
    incoming = pd.concat(list(pdfs), ignore_index=True)
    n_steps = sum(1 for c in incoming.columns if c.startswith("_s"))
    incoming = incoming.sort_values(["_us", "_ord"], kind="mergesort")
    within = int(incoming["_within"].iloc[0])
    flags = [incoming[f"_s{i}"].fillna(False).to_numpy() for i in range(n_steps)]
    us = incoming["_us"].to_numpy()
    rows = []
    for j in range(len(us)):
        t = int(us[j])
        if step > 0 and t - start > within:
            step = 0
        if step == 0:
            if flags[0][j]:
                step, start = 1, t
                if n_steps == 1:
                    n_matches += 1
                    rows.append((int(key[0]), n_matches, t, t))
                    step = 0
        elif flags[step][j]:
            step += 1
            if step == n_steps:
                n_matches += 1
                rows.append((int(key[0]), n_matches, start, t))
                step = 0
    state.update((int(step), int(start), int(n_matches)))
    yield pd.DataFrame(
        rows, columns=["user_id", "match_idx", "start_us", "end_us"]
    )


def streaming_match_pattern(
    events_stream: DataFrame, steps, within_us: int
) -> DataFrame:
    """Streaming twin of `operators.cep.match_pattern` for per-user event
    streams: the same DFA (skip-till-next-match, non-overlapping, greedy
    anchor, stale drop) with its O(1) per-key state — current step,
    anchor time, match counter — in the streaming state store, so a
    pattern may START in one micro-batch and COMPLETE in a later one,
    and restarts recover mid-pattern from the checkpoint.

    Same contract as the batch operator: step predicates are Catalyst
    boolean expressions evaluated map-side; only (key, time, flags)
    cross the Arrow boundary. Delivery must be per-key time-ordered
    across batches (the ordered-replay contract the streaming funnel
    documents); late events violating it are a watermark concern
    upstream, not DFA state.
    """
    from pyspark.sql import functions as F

    from event_store_spark.shipping import ensure_shipped

    ensure_shipped()
    prepared = events_stream.select(
        "user_id",
        F.unix_micros("ts").alias("_us"),
        F.col("event_id").alias("_ord"),
        F.lit(within_us).alias("_within"),
        *[s.cast("boolean").alias(f"_s{i}") for i, s in enumerate(steps)],
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _cep_fold,
        outputStructType=CEP_OUTPUT_SCHEMA,
        stateStructType=CEP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SEMDEDUP_OUTPUT_SCHEMA = (
    "vec_id bigint, cell int, dropped int, match_vec_id bigint, sim double"
)
SEMDEDUP_STATE_SCHEMA = "vec_ids array<bigint>, vecs array<array<double>>"


def _semantic_cell_probe(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-cell membership: each arriving vector is compared against every
    PRIOR member of its k-means cell (earlier batches via state, earlier
    rows of this batch via vec_id order); at 4-dp-rounded cosine >= tau it
    is flagged dropped with its best match, then joins the cell either
    way — dropped members stay comparable, matching the batch greedy rule
    where every lower id participates."""
    import numpy as np

    from event_store_spark.plans.semantic import SEM_MAX_CELL, SEM_TAU

    if state.exists:
        member_ids, member_vecs = state.get
        member_ids = list(member_ids)
        members = [np.asarray(v, dtype="float64") for v in member_vecs]
    else:
        member_ids, members = [], []
    cell = int(key[0])
    rows = []
    incoming = pd.concat(list(pdfs), ignore_index=True).sort_values("vec_id")
    for vec_id, v in zip(incoming["vec_id"], incoming["v"]):
        if len(member_ids) >= SEM_MAX_CELL:
            raise ValueError(
                f"streaming_semantic_dedup: cell {cell} exceeds "
                f"SEM_MAX_CELL={SEM_MAX_CELL}; retrain with more centroids"
            )
        x = np.asarray(v, dtype="float64")
        best_id, best_sim = None, None
        if members:
            M = np.stack(members)
            sims = np.round(
                (M @ x)
                / (np.sqrt(np.einsum("ij,ij->i", M, M)) * np.sqrt(x @ x)),
                4,
            )
            # best match ties break to the EARLIEST (lowest) member id;
            # members are appended in vec_id arrival order, so argmax's
            # first-max rule IS that tie-break under ordered delivery
            i = int(np.argmax(sims))
            best_id, best_sim = int(member_ids[i]), float(sims[i])
        dropped = int(best_sim is not None and best_sim >= SEM_TAU)
        rows.append((int(vec_id), cell, dropped, best_id, best_sim))
        member_ids.append(int(vec_id))
        members.append(x)
    state.update((member_ids, [m.tolist() for m in members]))
    yield pd.DataFrame(
        rows, columns=["vec_id", "cell", "dropped", "match_vec_id", "sim"]
    )


def streaming_semantic_dedup(
    emb_stream: DataFrame, centroids: list
) -> DataFrame:
    """Cross-batch SemDeDup: the streaming twin of `plans.semantic` —
    each arriving embedding is assigned to its trained k-means cell
    MAP-SIDE (broadcast centroid argmin, the same `_assign` expression the
    batch build and `VectorIndex.maintain` use; zero shuffle before the
    keyed state op), then probes the cell's live member set held in the
    streaming state store.

    Emits one row per vector with its drop verdict and best prior match.
    Under ordered-by-id delivery the cumulative dropped set equals the
    batch operator's greedy min-id-survives output exactly (pinned by
    test); under arrival-order delivery it is the arrival-order greedy —
    the honest streaming semantics, same as the LSH twin.

    Scale: state per cell is its member matrix — the same O(corpus)
    ledger the batch GEMM stage holds per task, sharded by cell across
    executors and bounded by the shared `SEM_MAX_CELL` guard (recovery =
    retrain with more centroids, exactly the batch story). Each probe is
    one BLAS matvec against the cell matrix."""
    from event_store_spark.plans.ivf import _assign

    if not emb_stream.isStreaming:
        raise ValueError("streaming_semantic_dedup requires a streaming DataFrame")
    assigned = _assign(emb_stream.select("vec_id", "v"), centroids)
    return assigned.groupBy("cell").applyInPandasWithState(
        _semantic_cell_probe,
        outputStructType=SEMDEDUP_OUTPUT_SCHEMA,
        stateStructType=SEMDEDUP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
