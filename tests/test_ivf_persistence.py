"""IVF index persistence: save → load → search equals the in-session,
oracle-checked plans; streamed additions land in the same layout.

The lifecycle a vector store actually runs — train once, persist, serve
from the persisted layout, keep it current with the maintenance stream
(`VectorIndex.maintain`), retrain periodically — with search equality
pinned against `ann_ivf_topk` / `ann_ivf_nprobe` (whose values are
themselves driver-oracle-checked)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from event_store_spark.plans import QUERIES
from event_store_spark.plans.generations import SegmentLog
from event_store_spark.plans.ivf import _ivf_index, ivf_search
from event_store_spark.plans.vector_index import VectorIndex


def _load(spark, path, additions_path=None):
    """(trained state, rows) of the index at ``path``."""
    idx = VectorIndex.open(spark, path)
    return idx.trained, idx.rows(additions_path)


def _query_vec(assigned):
    return [float(x) for x in assigned.where(F.col("vec_id") == 0).first()["v"]]


def test_save_load_search_matches_in_session_plans(spark, sf_smoke, tmp_path):
    idx = str(tmp_path / "ivf")
    VectorIndex.build(spark, sf_smoke, idx, "ivf")
    centroids, assigned = _load(spark, idx)

    mem_centroids, mem_assigned = _ivf_index(spark, sf_smoke, "full")
    assert centroids == mem_centroids  # exact doubles through JSON
    assert sorted(
        (r.vec_id, r.cell) for r in assigned.select("vec_id", "cell").collect()
    ) == sorted(
        (r.vec_id, r.cell)
        for r in mem_assigned.select("vec_id", "cell").collect()
    )

    qv = _query_vec(assigned)
    # single-cell search == ann_ivf_topk (which excludes the query row)
    got = [
        (r.vec_id, r.sim)
        for r in ivf_search(assigned, centroids, qv, k=6).collect()
        if r.vec_id != 0
    ][:5]
    want = [
        (r.vec_id, r.sim) for r in QUERIES["ann_ivf_topk"](spark, sf_smoke).collect()
    ]
    assert got == want

    # nprobe=2 == ann_ivf_nprobe (same (dist, cell) probe tie-break)
    got2 = [
        (r.vec_id, r.sim)
        for r in ivf_search(assigned, centroids, qv, k=6, nprobe=2).collect()
        if r.vec_id != 0
    ][:5]
    want2 = [
        (r.vec_id, r.sim)
        for r in QUERIES["ann_ivf_nprobe"](spark, sf_smoke).collect()
    ]
    assert got2 == want2


def test_search_plan_is_partition_pruned_no_join(spark, sf_smoke, tmp_path):
    """Serving-path shape: the persisted layout turns a cell probe into
    parquet partition pruning — the executed plan has no join/exchange
    beyond TakeOrdered, and scans only the probed cell directory."""
    idx = str(tmp_path / "ivf")
    VectorIndex.build(spark, sf_smoke, idx, "ivf")
    centroids, assigned = _load(spark, idx)
    qv = _query_vec(assigned)
    df = ivf_search(assigned, centroids, qv, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "PartitionFilters: [cell" in plan.replace("  ", " ") or "cell#" in plan
    # count the scanned files: only the probed cell's partition
    pruned = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in pruned


def test_streamed_additions_join_the_persisted_index(spark, sf_smoke, tmp_path):
    """VectorIndex.maintain keeps a live-additions SEGMENT (its own
    stream-managed dir — the sink's `_spark_metadata` log is the
    exactly-once mechanism and must own its directory); loading with
    additions_path serves base + segment, and search returns streamed
    vectors."""
    idx = str(tmp_path / "ivf")
    adds_dir = str(tmp_path / "ivf_adds")
    VectorIndex.build(spark, sf_smoke, idx, "ivf")
    centroids, assigned = _load(spark, idx)
    base_n = assigned.count()

    # new vectors = exact copies of vec 1..3 re-keyed (land in same cells,
    # cosine 1.0 to their originals)
    new = (
        assigned.where(F.col("vec_id").between(1, 3))
        .select((F.col("vec_id") + 1_000_000).alias("vec_id"), "v")
    )
    src = str(tmp_path / "new_vecs")
    new.write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
    )
    q = VectorIndex.open(spark, idx).maintain(
        stream,
        adds_dir,
        checkpoint=str(tmp_path / "ck"),
    )
    q.awaitTermination(120)

    _, reloaded = _load(spark, idx, additions_path=adds_dir)
    assert reloaded.count() == base_n + 3
    # streamed copies got the SAME cells as their originals (map-side
    # assignment equality with the batch build)
    orig = {
        r.vec_id: r.cell
        for r in assigned.where(F.col("vec_id").between(1, 3)).collect()
    }
    for r in reloaded.where(F.col("vec_id") > 1_000_000).collect():
        assert r.cell == orig[r.vec_id - 1_000_000]
    # the copy of vec 1 is now vec 1's top match at sim 1.0
    v1 = [float(x) for x in assigned.where(F.col("vec_id") == 1).first()["v"]]
    top = [
        r.vec_id
        for r in ivf_search(reloaded, centroids, v1, k=2).collect()
    ]
    assert set(top) == {1, 1_000_001}


def test_pq_save_load_search_matches_in_session_plan(spark, sf_smoke, tmp_path):
    """PQ lifecycle: the persisted codes table (no raw vectors) serves
    the same ADC top-5 as the in-session, oracle-checked ann_pq_topk;
    the serving plan is a joinless, shuffle-free scan + TakeOrdered."""
    from event_store_spark.plans.pq import _pq_index, pq_search

    idx = str(tmp_path / "pq")
    VectorIndex.build(spark, sf_smoke, idx, "pq")
    book, codes = _load(spark, idx)

    mem_book, mem_encoded = _pq_index(spark, sf_smoke)
    assert book == mem_book  # exact doubles through JSON
    assert "v" not in codes.columns  # serving path never reads raw vectors

    qv = [
        float(x)
        for x in mem_encoded.where(F.col("vec_id") == 0).first()["v"]
    ]
    got = [
        (r.vec_id, r.adist)
        for r in pq_search(codes, book, qv, k=6).collect()
        if r.vec_id != 0
    ][:5]
    want = [
        (r.vec_id, r.adist)
        for r in QUERIES["ann_pq_topk"](spark, sf_smoke).collect()
    ]
    assert got == want

    plan = (
        pq_search(codes, book, qv, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan and "Exchange" not in plan
    assert "TakeOrderedAndProject" in plan


def test_pq_encode_stream_segment_serves_with_base(spark, sf_smoke, tmp_path):
    """Streamed PQ additions: arriving vectors encode map-side with the
    broadcast codebook, the codes segment unions onto the persisted base,
    and an exact copy of vector 1 ties its original at ADC distance 0
    from codes alone."""
    from event_store_spark.plans.pq import _pq_index, pq_search

    idx = str(tmp_path / "pq")
    adds = str(tmp_path / "pq_adds")
    VectorIndex.build(spark, sf_smoke, idx, "pq")
    book, codes = _load(spark, idx)

    _, mem_encoded = _pq_index(spark, sf_smoke)
    new = mem_encoded.where(F.col("vec_id").between(1, 3)).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "v"
    )
    src = str(tmp_path / "new_vecs")
    new.write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = VectorIndex.open(spark, idx).maintain(stream, adds, str(tmp_path / "ck"))
    q.awaitTermination(120)

    seg = SegmentLog(spark, adds).read()
    # streamed codes == the batch build's codes for the same vectors
    batch_codes = {
        r.vec_id: list(r.codes)
        for r in mem_encoded.where(F.col("vec_id").between(1, 3)).collect()
    }
    for r in seg.collect():
        assert list(r.codes) == batch_codes[r.vec_id - 1_000_000]

    served = codes.unionByName(seg)
    v1 = [float(x) for x in mem_encoded.where(F.col("vec_id") == 1).first()["v"]]
    top = {r.vec_id: r.adist for r in pq_search(served, book, v1, k=3).collect()}
    assert top[1] == top[1_000_001]  # identical codes -> identical ADC


def test_compact_folds_segment_into_base(spark, sf_smoke, tmp_path):
    """Compaction merges the streamed segment into the base layout
    without retraining; a re-compaction of the same segment is
    idempotent (no duplicate vec_ids), and search serves the merged
    base alone."""
    idx = str(tmp_path / "ivf")
    adds_dir = str(tmp_path / "adds")
    VectorIndex.build(spark, sf_smoke, idx, "ivf")
    centroids, assigned = _load(spark, idx)
    base_n = assigned.count()

    new = assigned.where(F.col("vec_id").between(1, 3)).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "v"
    )
    src = str(tmp_path / "new_vecs")
    new.write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = VectorIndex.open(spark, idx).maintain(stream, adds_dir, str(tmp_path / "ck"))
    q.awaitTermination(120)

    VectorIndex.open(spark, idx).compact(adds_dir)
    c2, merged = _load(spark, idx)  # no additions_path needed now
    assert c2 == centroids  # compaction never retrains
    assert merged.count() == base_n + 3

    VectorIndex.open(spark, idx).compact(adds_dir)  # idempotent re-fold
    _, again = _load(spark, idx)
    assert again.count() == base_n + 3

    # NOTE: DataFrames loaded BEFORE a compaction pin their file listing
    # and break after the in-place swap — reload after compacting (the
    # operator refreshes the path cache so new loads list fresh)
    v1 = [float(x) for x in again.where(F.col("vec_id") == 1).first()["v"]]
    top = {r.vec_id for r in ivf_search(again, centroids, v1, k=2).collect()}
    assert top == {1, 1_000_001}


def test_sq8_save_load_search_matches_in_session_plan(spark, sf_smoke, tmp_path):
    """SQ8 lifecycle: the persisted int8 codes + 2xDIM-double limits
    serve the same reconstructed-cosine top-5 as the oracle-checked
    ann_sq8_topk; the serving plan is a joinless scan + TakeOrdered."""
    from event_store_spark.plans.pipeline5 import sq8_search
    from event_store_spark.tables import load_table

    idx = str(tmp_path / "sq8")
    VectorIndex.build(spark, sf_smoke, idx, "sq8")
    limits, codes = _load(spark, idx)
    assert codes.schema["q"].dataType.simpleString() == "array<tinyint>"

    qv = [
        float(x)
        for x in load_table(spark, sf_smoke, "embeddings")
        .where(F.col("vec_id") == 0)
        .first()["embedding"]
    ]
    got = [
        (r.vec_id, r.sim)
        for r in sq8_search(codes, limits, qv, k=6).collect()
        if r.vec_id != 0
    ][:5]
    want = [
        (r.vec_id, r.sim)
        for r in QUERIES["ann_sq8_topk"](spark, sf_smoke).collect()
    ]
    assert got == want

    plan = (
        sq8_search(codes, limits, qv, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan and "Exchange" not in plan
    assert "TakeOrderedAndProject" in plan


def test_compact_publishes_by_pointer_flip(spark, sf_smoke, tmp_path):
    """ADVICE r6: the old rename-rename swap had a crash window with NO
    cells dir at all. Publication is now a CELLS pointer flip: at every
    point there is a fully-written generation the pointer names; an
    orphan generation from a crash-before-flip is invisible to loads and
    swept by the next compaction; a retrain save after a compaction is
    still what loads resolve."""
    idx = str(tmp_path / "ivf")
    adds_dir = str(tmp_path / "adds")
    VectorIndex.build(spark, sf_smoke, idx, "ivf")
    # fresh index: original layout
    assert VectorIndex.open(spark, idx).live[0] == "cells"
    centroids, assigned = _load(spark, idx)
    base_n = assigned.count()

    new = assigned.where(F.col("vec_id").between(1, 2)).select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"), "v"
    )
    src = str(tmp_path / "new_vecs")
    new.write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = VectorIndex.open(spark, idx).maintain(stream, adds_dir, str(tmp_path / "ck"))
    q.awaitTermination(120)

    VectorIndex.open(spark, idx).compact(adds_dir)
    live = VectorIndex.open(spark, idx).live[0]
    assert live.startswith("cells-")
    assert os.path.isdir(os.path.join(idx, live))
    # ADVICE r7: the just-superseded generation SURVIVES this flip so a
    # reader that resolved it pre-flip finishes its scan; it is GC'd by
    # the NEXT flip, along with any crash orphans
    assert os.path.isdir(os.path.join(idx, "cells"))
    _, merged = _load(spark, idx)
    assert merged.count() == base_n + 2

    # crash-before-flip: a fully-staged but unpublished generation is
    # ignored by loads and swept by the next compaction
    orphan = os.path.join(idx, "cells-99")
    os.makedirs(orphan)
    _, still = _load(spark, idx)
    assert still.count() == base_n + 2
    prev = live
    VectorIndex.open(spark, idx).compact(adds_dir)
    assert not os.path.exists(orphan)
    assert os.path.isdir(os.path.join(idx, prev))  # N-1 kept for readers
    assert not os.path.isdir(os.path.join(idx, "cells"))  # N-2 swept now

    # retrain after compaction: save must publish a generation the
    # pointer names (the old code overwrote shadowed `cells/`)
    VectorIndex.build(spark, sf_smoke, idx, "ivf")
    gen = VectorIndex.open(spark, idx).live[0]
    assert gen.startswith("cells-")
    _, retrained = _load(spark, idx)
    assert retrained.count() == base_n


def test_vector_index_facade_unifies_three_kinds(spark, sf_smoke, tmp_path):
    """VERDICT r6 #7: one VectorIndex lifecycle over the IVF/PQ/SQ8
    layouts. build→open→search must reproduce each kind's registered,
    oracle-checked query; open() must also sniff pre-facade layouts
    (no index.json); the flat kinds must reject IVF-only knobs."""
    from event_store_spark.plans.vector_index import VectorIndex

    _, assigned = _ivf_index(spark, sf_smoke, "full")
    qv = _query_vec(assigned)

    want = {
        "ivf": [
            (r.vec_id, r.sim)
            for r in QUERIES["ann_ivf_topk"](spark, sf_smoke).collect()
        ],
        "pq": [
            (r.vec_id, r.adist)
            for r in QUERIES["ann_pq_topk"](spark, sf_smoke).collect()
        ],
        "sq8": [
            (r.vec_id, r.sim)
            for r in QUERIES["ann_sq8_topk"](spark, sf_smoke).collect()
        ],
    }
    score_col = {"ivf": "sim", "pq": "adist", "sq8": "sim"}
    for kind in ("ivf", "pq", "sq8"):
        path = str(tmp_path / kind)
        VectorIndex.build(spark, sf_smoke, path, kind)
        idx = VectorIndex.open(spark, path)
        assert idx.kind == kind
        got = [
            (r.vec_id, r[score_col[kind]])
            for r in idx.search(qv, k=6).collect()
            if r.vec_id != 0  # registered queries exclude the query row
        ][:5]
        assert got == want[kind], kind

    # pre-facade layout (no manifest): open() sniffs the marker
    import os

    with open(str(tmp_path / "pq" / "index.json"), "w") as fh:
        fh.write('{"kind": "ivf"}')  # an older build's manifest is ignored
    assert VectorIndex.open(spark, str(tmp_path / "pq")).kind == "pq"

    with pytest.raises(ValueError, match="cell-probing"):
        VectorIndex.open(spark, str(tmp_path / "sq8")).search(qv, nprobe=2)


def test_vector_index_maintain_and_compact_all_kinds(spark, sf_smoke, tmp_path):
    """Round 8 completes the facade lifecycle: `maintain` starts each
    kind's streaming segment encoder from the OPENED index's trained
    state (no hand-carried codebooks), and `compact` folds the segment —
    now for SQ8 too (the streaming encoder quantizes under the FROZEN
    limits, so segment codes are exactly as valid as the base's; round
    7's refusal conflated compaction with retrain). Pinned: post-compact
    count and search stability per kind, idempotent re-fold."""
    from event_store_spark.plans.vector_index import VectorIndex

    _, assigned = _ivf_index(spark, sf_smoke, "full")
    qv = _query_vec(assigned)
    new = assigned.where(F.col("vec_id").between(1, 3)).select(
        (F.col("vec_id") + 8_000_000).alias("vec_id"), "v"
    )
    src = str(tmp_path / "new_vecs")
    new.write.parquet(src)

    loaders = {
        kind: lambda p: VectorIndex.open(spark, p).rows()
        for kind in ("ivf", "pq", "sq8")
    }
    for kind in ("ivf", "pq", "sq8"):
        path = str(tmp_path / kind)
        VectorIndex.build(spark, sf_smoke, path, kind)
        idx = VectorIndex.open(spark, path)
        base_n = loaders[kind](path).count()

        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        q = idx.maintain(stream, str(tmp_path / f"{kind}_adds"),
                         str(tmp_path / f"{kind}_ck"))
        q.awaitTermination(120)
        seg_n = SegmentLog(spark, str(tmp_path / f"{kind}_adds")).read().count()
        assert seg_n == 3, kind

        idx.compact(str(tmp_path / f"{kind}_adds"))
        assert loaders[kind](path).count() == base_n + 3, kind
        first = [tuple(r) for r in idx.search(qv, k=5).collect()]
        assert len(first) == 5, kind
        idx.compact(str(tmp_path / f"{kind}_adds"))  # idempotent re-fold
        assert loaders[kind](path).count() == base_n + 3, kind
        assert [tuple(r) for r in idx.search(qv, k=5).collect()] == first, kind


def test_pq_compaction_folds_segment_behind_pointer(spark, sf_smoke, tmp_path):
    """PQ segment fold: codes merge without re-encoding, publication is
    the atomic CODES pointer flip, re-fold is idempotent, and ADC search
    over the folded base reproduces base+segment serving exactly."""
    from event_store_spark.plans.pq import _pq_index, pq_search
    from event_store_spark.plans.vector_index import VectorIndex

    idx = str(tmp_path / "pq")
    adds = str(tmp_path / "adds")
    VectorIndex.build(spark, sf_smoke, idx, "pq")
    book, codes = _load(spark, idx)
    base_n = codes.count()

    _, mem_encoded = _pq_index(spark, sf_smoke)
    new = mem_encoded.where(F.col("vec_id").between(1, 2)).select(
        (F.col("vec_id") + 4_000_000).alias("vec_id"), "v"
    )
    src = str(tmp_path / "new_vecs")
    new.write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = VectorIndex.open(spark, idx).maintain(stream, adds, str(tmp_path / "ck"))
    q.awaitTermination(120)

    v1 = [float(x) for x in mem_encoded.where(F.col("vec_id") == 1).first()["v"]]
    served = codes.unionByName(SegmentLog(spark, adds).read())
    want = [(r.vec_id, r.adist) for r in pq_search(served, book, v1, k=4).collect()]

    vi = VectorIndex.open(spark, idx)
    vi.compact(adds)
    assert VectorIndex.open(spark, idx).live[0].startswith("codes-")
    book2, merged = _load(spark, idx)
    assert book2 == book  # compaction never re-trains the codebook
    assert merged.count() == base_n + 2
    got = [(r.vec_id, r.adist) for r in vi.search(v1, k=4).collect()]
    assert got == want

    vi.compact(adds)  # idempotent re-fold
    _, again = _load(spark, idx)
    assert again.count() == base_n + 2


def test_vector_index_compaction_preserves_recall(spark, sf_smoke, tmp_path):
    """The post-compaction recall pin (VERDICT r6 #7): folding a streamed
    additions segment into the IVF base must leave search results — and
    therefore recall@5 against the exact top-5 over the augmented corpus
    — exactly as they were when serving base+segment."""
    import numpy as np

    from event_store_spark.plans.vector_index import VectorIndex

    path = str(tmp_path / "ivf")
    adds_dir = str(tmp_path / "adds")
    idx = VectorIndex.build(spark, sf_smoke, path, "ivf")
    centroids, assigned = _load(spark, path)
    qv = _query_vec(assigned)

    new = assigned.where(F.col("vec_id").between(2, 4)).select(
        (F.col("vec_id") + 3_000_000).alias("vec_id"), "v"
    )
    src = str(tmp_path / "new_vecs")
    new.write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = idx.maintain(stream, adds_dir, str(tmp_path / "ck"))
    q.awaitTermination(120)

    def _recall(rows, exact_ids):
        return len({r.vec_id for r in rows} & exact_ids) / len(exact_ids)

    # exact top-5 (excluding the query row itself) over corpus + additions
    corpus = [
        (r.vec_id, np.asarray(r.v))
        for r in assigned.select("vec_id", "v").collect()
    ] + [(r.vec_id, np.asarray(r.v)) for r in new.collect()]
    qarr = np.asarray(qv)
    sims = sorted(
        (
            (float(v @ qarr / (np.linalg.norm(v) * np.linalg.norm(qarr))), vid)
            for vid, v in corpus
            if vid != 0
        ),
        reverse=True,
    )
    exact5 = {vid for _, vid in sims[:5]}

    before = [r for r in idx.search(
        qv, k=6, nprobe=2, additions_path=adds_dir
    ).collect() if r.vec_id != 0][:5]
    idx.compact(adds_dir)
    after = [r for r in idx.search(qv, k=6, nprobe=2).collect()
             if r.vec_id != 0][:5]

    assert [(r.vec_id, r.sim) for r in after] == [
        (r.vec_id, r.sim) for r in before
    ]
    assert _recall(after, exact5) >= _recall(before, exact5)


def test_retrain_pointer_names_centroids_and_cells_as_one_pair(
    spark, sf_smoke, tmp_path
):
    """A retrain over a pointer-published index must flip BOTH halves in
    one atomic step: the pointer names the centroids file the new cells
    were assigned by, and the loaded pair is self-consistent (every
    stored assignment is the argmin cell under the loaded centroids) —
    the crash window that could serve new assignments under old
    centroids is closed by construction."""
    import math

    idx = str(tmp_path / "ivf")
    adds_dir = str(tmp_path / "adds")
    VectorIndex.build(spark, sf_smoke, idx, "ivf")
    centroids, assigned = _load(spark, idx)

    new = assigned.where(F.col("vec_id") == 1).select(
        (F.col("vec_id") + 5_000_000).alias("vec_id"), "v"
    )
    src = str(tmp_path / "new_vecs")
    new.write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = VectorIndex.open(spark, idx).maintain(stream, adds_dir, str(tmp_path / "ck"))
    q.awaitTermination(120)
    VectorIndex.open(spark, idx).compact(adds_dir)

    VectorIndex.build(spark, sf_smoke, idx, "ivf")  # retrain after compaction
    cells_dir, cfile = VectorIndex.open(spark, idx).live
    assert cells_dir.startswith("cells-")
    assert cfile.startswith("centroids-")

    c2, a2 = _load(spark, idx)
    cmap = dict(c2)
    for r in a2.collect():
        d = {
            cell: sum((x - y) ** 2 for x, y in zip(r.v, c))
            for cell, c in cmap.items()
        }
        best = min(d, key=lambda cell: (d[cell], cell))
        assert math.isclose(d[r.cell], d[best], rel_tol=0, abs_tol=0) or (
            r.cell == best
        ), (r.vec_id, r.cell, best)


def test_pq_retrain_after_compaction_publishes_pair(spark, sf_smoke, tmp_path):
    """A PQ retrain over a compacted index must publish (codes, codebook)
    as one pointer pair — ADC codes under the wrong codebook are wrong
    DISTANCES, so the two can never be observable out of step; the old
    overwrite-in-place was also shadowed by a post-compaction pointer."""
    from event_store_spark.plans.pq import _pq_index, pq_search

    idx = str(tmp_path / "pq")
    adds = str(tmp_path / "adds")
    VectorIndex.build(spark, sf_smoke, idx, "pq")
    book, codes = _load(spark, idx)
    base_n = codes.count()

    _, mem_encoded = _pq_index(spark, sf_smoke)
    new = mem_encoded.where(F.col("vec_id") == 1).select(
        (F.col("vec_id") + 6_000_000).alias("vec_id"), "v"
    )
    src = str(tmp_path / "new_vecs")
    new.write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = VectorIndex.open(spark, idx).maintain(stream, adds, str(tmp_path / "ck"))
    q.awaitTermination(120)
    VectorIndex.open(spark, idx).compact(adds)

    VectorIndex.build(spark, sf_smoke, idx, "pq")  # retrain after compaction
    codes_dir, bfile = VectorIndex.open(spark, idx).live
    assert codes_dir.startswith("codes-") and bfile.startswith("codebook-")
    book2, codes2 = _load(spark, idx)
    assert book2 == book  # deterministic build retrains to the same book
    assert codes2.count() == base_n  # retrain is a fresh full encode
    # search over the retrained pair reproduces the oracle-checked plan
    qv = [float(x) for x in mem_encoded.where(F.col("vec_id") == 0).first()["v"]]
    got = [
        (r.vec_id, r.adist)
        for r in pq_search(codes2, book2, qv, k=6).collect()
        if r.vec_id != 0
    ][:5]
    want = [
        (r.vec_id, r.adist)
        for r in QUERIES["ann_pq_topk"](spark, sf_smoke).collect()
    ]
    assert got == want


def test_sq8_retrain_publishes_pair(spark, sf_smoke, tmp_path):
    """SQ8 retrain over an existing index flips (codes, limits) as one
    pointer pair (codes under the wrong limits reconstruct wrong values);
    the retrained index reproduces the oracle-checked ann_sq8_topk."""
    from event_store_spark.plans.pipeline5 import sq8_search

    idx = str(tmp_path / "sq8")
    VectorIndex.build(spark, sf_smoke, idx, "sq8")
    assert VectorIndex.open(spark, idx).live == ("codes", "limits.json")
    limits, codes = _load(spark, idx)
    base_n = codes.count()

    VectorIndex.build(spark, sf_smoke, idx, "sq8")  # retrain in place
    codes_dir, lfile = VectorIndex.open(spark, idx).live
    assert codes_dir == "codes-1" and lfile == "limits-1.json"
    limits2, codes2 = _load(spark, idx)
    assert limits2 == limits  # deterministic retrain
    assert codes2.count() == base_n

    from event_store_spark.plans.ivf import _ivf_index

    _, assigned = _ivf_index(spark, sf_smoke, "full")
    qv = [float(x) for x in assigned.where(F.col("vec_id") == 0).first()["v"]]
    got = [
        (r.vec_id, r.sim)
        for r in sq8_search(codes2, limits2, qv, k=6).collect()
        if r.vec_id != 0
    ][:5]
    want = [
        (r.vec_id, r.sim)
        for r in QUERIES["ann_sq8_topk"](spark, sf_smoke).collect()
    ]
    assert got == want


def test_compaction_segment_wins_over_stale_base(spark, sf_smoke, tmp_path):
    """ADVICE r7: when a vec_id exists in BOTH base and segment with
    different content (an updated/re-encoded vector), compaction must
    keep the SEGMENT row deterministically — dropDuplicates kept an
    arbitrary one, which could resurrect the stale base row. Pinned for
    both compactable layouts (IVF assignments, PQ codes)."""
    # --- IVF: re-assign vec_id=1 to vec_id=2's (v, cell) via the segment
    idx = str(tmp_path / "ivf")
    VectorIndex.build(spark, sf_smoke, idx, "ivf")
    _, assigned = _load(spark, idx)
    base_n = assigned.count()
    donor = assigned.where(F.col("vec_id") == 2).first()
    adds = str(tmp_path / "ivf_adds")
    SegmentLog(spark, adds).write(
        0,
        assigned.where(F.col("vec_id") == 2).select(
            F.lit(1).cast("long").alias("vec_id"), "v", "cell"
        ),
        ("cell",),
    )
    VectorIndex.open(spark, idx).compact(adds)
    _, merged = _load(spark, idx)
    assert merged.count() == base_n  # update, not insert
    got = merged.where(F.col("vec_id") == 1).collect()
    assert len(got) == 1
    assert got[0].cell == donor.cell and list(got[0].v) == list(donor.v)

    # --- PQ: re-encode vec_id=1 with vec_id=2's codes via the segment
    pidx = str(tmp_path / "pq")
    VectorIndex.build(spark, sf_smoke, pidx, "pq")
    _, codes = _load(spark, pidx)
    pbase_n = codes.count()
    pdonor = codes.where(F.col("vec_id") == 2).first()
    padds = str(tmp_path / "pq_adds")
    SegmentLog(spark, padds).write(
        0,
        codes.where(F.col("vec_id") == 2).select(
            F.lit(1).cast("long").alias("vec_id"), "codes"
        ),
    )
    VectorIndex.open(spark, pidx).compact(padds)
    _, merged_codes = _load(spark, pidx)
    assert merged_codes.count() == pbase_n
    pgot = merged_codes.where(F.col("vec_id") == 1).collect()
    assert len(pgot) == 1
    assert list(pgot[0].codes) == list(pdonor.codes)


def test_sq8_encode_stream_matches_batch_and_saturates(spark, sf_smoke, tmp_path):
    """VERDICT r7 #8: the SQ8 streaming encode twin completes the
    lifecycle for all three ANN layouts. Pinned: streamed codes across
    micro-batches equal the batch quantization under the same frozen
    limits; components outside the trained range SATURATE to the code
    ends instead of wrapping through the tinyint cast."""
    from event_store_spark.plans.pipeline5 import sq8_quantize

    idx = str(tmp_path / "sq8")
    VectorIndex.build(spark, sf_smoke, idx, "sq8")
    (mns, mxs), base_codes = _load(spark, idx)

    from event_store_spark.plans.ivf import _ivf_index

    _, assigned = _ivf_index(spark, sf_smoke, "full")
    new = assigned.where(F.col("vec_id").between(1, 6)).select(
        (F.col("vec_id") + 7_000_000).alias("vec_id"), "v"
    )
    src = str(tmp_path / "new_vecs")
    new.write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = VectorIndex.open(spark, idx).maintain(stream, str(tmp_path / "adds"),
                                              str(tmp_path / "ck"))
    q.awaitTermination(120)

    got = {
        r.vec_id: list(r.q)
        for r in SegmentLog(spark, str(tmp_path / "adds")).read().collect()
    }
    want = {r.vec_id: list(r.q) for r in sq8_quantize(new, mns, mxs).collect()}
    assert got == want and len(got) == 6

    # base + segment serve as a union with no vec_id overlap
    merged = base_codes.unionByName(
        SegmentLog(spark, str(tmp_path / "adds")).read()
    )
    assert merged.count() == base_codes.count() + 6

    # out-of-range components clamp to -128/127 (never wrap)
    wild = spark.createDataFrame(
        [(99, [mxs[i] + 1000.0 for i in range(len(mxs))]),
         (98, [mns[i] - 1000.0 for i in range(len(mns))])],
        "vec_id long, v array<double>",
    )
    codes = {r.vec_id: set(r.q) for r in sq8_quantize(wild, mns, mxs).collect()}
    assert codes[99] <= {127, 0}   # degenerate dims (mx=mn) encode 0
    assert codes[98] <= {-128, 0}


def test_compaction_keeps_the_newest_addition_of_a_vec_id(
    spark, sf_smoke, tmp_path
):
    """A vec_id added in two batches compacts to the later batch's row,
    on every run: the two additions used to tie in the fold, so either
    could survive."""
    idx = str(tmp_path / "ivf")
    VectorIndex.build(spark, sf_smoke, idx, "ivf")
    _, assigned = _load(spark, idx)
    donors = assigned.where(F.col("vec_id").isin(2, 3)).orderBy("vec_id").collect()
    adds = SegmentLog(spark, str(tmp_path / "adds"))
    for batch_id, donor in enumerate(donors):
        adds.write(
            batch_id,
            spark.createDataFrame(
                [(9_000_000, list(donor.v), donor.cell)],
                "vec_id bigint, v array<double>, cell int",
            ),
            ("cell",),
        )
    for _ in range(3):
        VectorIndex.open(spark, idx).compact(adds.root)
        _, merged = _load(spark, idx)
        got = merged.where(F.col("vec_id") == 9_000_000).collect()
        assert [(list(r.v), r.cell) for r in got] == [
            (list(donors[1].v), donors[1].cell)
        ]
