"""HNSW-per-cell graph ANN — the industry-default high-recall search
path, partitioned Spark-first inside the IVF layout (VERDICT r9 #8).

A monolithic HNSW graph is a single-machine structure (hot entry point,
pointer-chasing traversal) — it does NOT shard. The cluster-idiomatic
form, used by every distributed vector store (Milvus segments,
Vespa/ES per-shard HNSW, Turbopuffer), is a PARTITIONED graph: the
corpus is split by the learned IVF cells (`plans.ivf._ivf_index` — the
same memoized build every IVF variant shares), and each cell carries
its own small-world graph built and searched INSIDE one task
(`applyInPandas` keyed by cell). Search probes the query's cell(s) like
any IVF plan, then walks that cell's graph instead of scanning the
cell — O(ef·log n_cell) sims instead of O(n_cell).

Determinism (the oracle contract): node levels derive from
md5(vec_id); inserts run in vec_id order; every neighbor selection and
search tie breaks on (sim DESC, vec_id ASC); the FINAL candidates are
re-ranked with the engine's exact left-to-right fold (the
`_knn_blas_bucket_topk` discipline — identical operand order to the
oracle's list_sum, so the emitted ROUND(sim, 4) values hash-match).
The oracle is the EXACT top-k over the probed cell — same string as
`ann_ivf_topk` — so the driver's hash check fails loudly if the graph
search ever misses a true neighbor (recall is also reported as a row
in `ann_recall_report`).

Scale shape: the graph table is (cell, vec_id, level, per-level
adjacency), built once per corpus (memoized; in production it is the
persisted per-segment index), partitioned by cell — bounded per task
by the IVF occupancy contract. A search moves only the probed cells'
rows; nothing corpus-global exists anywhere.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_store_spark.plans.generations import GenerationPair
from event_store_spark.plans.ivf import _ivf_index
from event_store_spark.plans.registry import ORACLE, register
from event_store_spark.tables import memo

#: max neighbors per node per level (HNSW "M"); level-0 gets 2M as usual
HNSW_M = 8
#: construction beam width
HNSW_EF_C = 32
#: search beam width at layer 0 — sized so the beam provably dominates
#: the top-5 on the fixture cells (the oracle hash check enforces it)
HNSW_EF = 64
TOPK = 5


def _level_of(vec_id: int, m_l: float) -> int:
    """Deterministic geometric level draw from md5(vec_id)."""
    h = hashlib.md5(str(int(vec_id)).encode()).hexdigest()
    u = (int(h[:8], 16) + 1) / 4294967296.0
    return int(-math.log(u) * m_l)


def _exact_fold_sims(X, q):
    """Cosine of each row of X against q with the engine's exact
    left-to-right accumulation order (bit-identical to the oracle's
    list_sum fold): acc = (acc + a_d * b_d), per dimension."""
    import numpy as np

    n, d = X.shape
    accd = np.zeros(n)
    acca = np.zeros(n)
    accq = 0.0
    for dd in range(d):
        accd = accd + X[:, dd] * q[dd]
        acca = acca + X[:, dd] * X[:, dd]
        accq = accq + q[dd] * q[dd]
    return accd / (np.sqrt(acca) * np.sqrt(accq))


def _build_cell_graph(pdf):
    """Build one cell's HNSW graph: standard insert (greedy descent to
    the node's level, beam-ef candidate search per level, top-M
    bidirectional links with prune). All float work is numpy float64 —
    the graph steers search only, so build arithmetic needs determinism,
    not oracle bit-parity."""
    import numpy as np
    import pandas as pd

    ids = pdf["vec_id"].to_numpy()
    order = np.argsort(ids)  # insert in vec_id order — deterministic
    ids = ids[order]
    X = np.stack(pdf["v"].to_numpy())[order].astype(np.float64, copy=False)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
    n = len(ids)
    cell = int(pdf["cell"].iloc[0])
    m_l = 1.0 / math.log(HNSW_M)
    levels = [_level_of(v, m_l) for v in ids]
    # nbrs[node][lvl] = list of local indices
    nbrs: list[list[list[int]]] = [
        [[] for _ in range(levels[i] + 1)] for i in range(n)
    ]
    cap = lambda lvl: (2 * HNSW_M) if lvl == 0 else HNSW_M

    def _search_layer(q, entries, ef, lvl):
        """Beam search on one layer → list of (negsim, idx) best-first."""
        import heapq

        visited = set(entries)
        cand = [(-float(Xn[e] @ q), e) for e in entries]
        heapq.heapify(cand)
        best = sorted(cand)
        while cand:
            negsim, u = heapq.heappop(cand)
            if negsim > best[min(ef, len(best)) - 1][0] and len(best) >= ef:
                break
            for w in nbrs[u][lvl]:
                if w in visited:
                    continue
                visited.add(w)
                s = float(Xn[w] @ q)
                entry = (-s, w)
                if len(best) < ef or entry < best[ef - 1]:
                    heapq.heappush(cand, entry)
                    best.append(entry)
                    best.sort()
                    del best[ef:]
        return best

    entry_pt = 0
    max_lvl = levels[0]
    for i in range(1, n):
        q = Xn[i]
        lvl = levels[i]
        ep = [entry_pt]
        for l in range(max_lvl, lvl, -1):
            ep = [_search_layer(q, ep, 1, l)[0][1]]
        for l in range(min(lvl, max_lvl), -1, -1):
            found = _search_layer(q, ep, HNSW_EF_C, l)
            picks = [w for _, w in found[: cap(l)]]
            nbrs[i][l] = picks
            for w in picks:
                lst = nbrs[w][l]
                lst.append(i)
                if len(lst) > cap(l):
                    # prune to the cap by (sim to w desc, id asc)
                    sims = [
                        (-float(Xn[x] @ Xn[w]), ids[x], x) for x in lst
                    ]
                    sims.sort()
                    nbrs[w][l] = [x for _, _, x in sims[: cap(l)]]
            ep = [w for _, w in found[:1]] or ep
        if lvl > max_lvl:
            max_lvl = lvl
            entry_pt = i
    return pd.DataFrame(
        {
            "cell": cell,
            "vec_id": ids,
            "level": [np.int32(levels[i]) for i in range(n)],
            "nbrs": [
                [[int(ids[w]) for w in lvl_list] for lvl_list in nbrs[i]]
                for i in range(n)
            ],
        }
    )


def _hnsw_graph(spark: SparkSession, sf_dir: str, spill: int = 1) -> DataFrame:
    """(cell, vec_id, v, level, nbrs) — the per-cell graphs plus vectors,
    built once per (session, corpus, spill) and cached; production writes
    this table out partitioned by cell (the Milvus-segment layout).

    ``spill`` > 1 builds the graphs over the SOAR-style spilled
    membership (`ivf.assign_spilled` — each vector linked into its
    ``spill`` nearest cells), so a single-cell probe's graph walk also
    reaches boundary vectors of adjacent regions: the ScaNN spilling
    recall lift composed with graph serving (VERDICT r11 #8a). Per-cell
    builds are independent, so the spilled table is just ``spill``×
    rows through the same Arrow tasks."""

    def build():
        from event_store_spark.shipping import ensure_shipped

        ensure_shipped(spark)
        centroids, assigned = _ivf_index(spark, sf_dir, "full")
        if spill > 1:
            from event_store_spark.plans.ivf import assign_spilled

            membership = assign_spilled(
                assigned.select("vec_id", "v"), centroids, spill=spill
            ).select("cell", "vec_id", "v", "rank")
        else:
            membership = assigned
        graph = membership.groupBy("cell").applyInPandas(
            _build_cell_graph,
            "cell int, vec_id bigint, level int, nbrs array<array<bigint>>",
        )
        # coalesce-before-cache: see tokenized.source_gram_masks
        return (
            membership.join(graph, ["cell", "vec_id"])
            .coalesce(membership.sparkSession.sparkContext.defaultParallelism)
            .cache()
        )

    return memo(spark, (_hnsw_graph, sf_dir, spill), build)


def _search_cell(pdf):
    """Search one probed cell's graph for the query vector riding the
    rows: greedy descent from the top level, beam HNSW_EF at layer 0,
    exact-fold re-rank of the beam → top-K (sim DESC, vec_id ASC)."""
    import heapq

    import numpy as np
    import pandas as pd

    cols = ["vec_id", "sim"]
    ids = pdf["vec_id"].to_numpy()
    order = np.argsort(ids)
    ids = ids[order]
    X = np.stack(pdf["v"].to_numpy())[order].astype(np.float64, copy=False)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
    levels = pdf["level"].to_numpy()[order]
    raw_nbrs = pdf["nbrs"].to_numpy()[order]
    pos = {int(v): i for i, v in enumerate(ids)}
    nbrs = [
        [[pos[int(w)] for w in lvl_list] for lvl_list in node_lists]
        for node_lists in raw_nbrs
    ]
    q = np.asarray(pdf["qv"].iloc[0], dtype=np.float64)
    qn = q / max(float(np.linalg.norm(q)), 1e-300)
    q_id = int(pdf["q_id"].iloc[0])
    # caller's k rides the rows like qv/q_id (ADVICE r10: a hardcoded
    # TOPK=5 silently truncated hnsw_search(k>5)); beam covers it below
    k = int(pdf["k"].iloc[0]) if "k" in pdf.columns else TOPK

    entry = int(np.lexsort((ids, -levels))[0])  # max level, lowest id
    ep = [entry]
    for l in range(int(levels[entry]), 0, -1):
        # greedy: single best at this level
        cur = ep[0]
        improved = True
        while improved:
            improved = False
            for w in nbrs[cur][l] if l < len(nbrs[cur]) else []:
                if float(Xn[w] @ qn) > float(Xn[cur] @ qn):
                    cur = w
                    improved = True
        ep = [cur]
    # layer-0 beam — width covers the caller's k (plus one slot for the
    # query's own row, excluded below) so k > HNSW_EF still returns k rows
    ef = max(HNSW_EF, k + 1)
    visited = set(ep)
    cand = [(-float(Xn[e] @ qn), e) for e in ep]
    heapq.heapify(cand)
    best = sorted(cand)
    while cand:
        negsim, u = heapq.heappop(cand)
        if len(best) >= ef and negsim > best[ef - 1][0]:
            break
        for w in nbrs[u][0]:
            if w in visited:
                continue
            visited.add(w)
            s = float(Xn[w] @ qn)
            entry_w = (-s, w)
            if len(best) < ef or entry_w < best[ef - 1]:
                heapq.heappush(cand, entry_w)
                best.append(entry_w)
                best.sort()
                del best[ef:]
    beam = [w for _, w in best[:ef] if int(ids[w]) != q_id]
    if not beam:
        return pd.DataFrame(columns=cols)
    sims = _exact_fold_sims(X[beam], q)  # oracle-exact values
    nbr_ids = ids[beam]
    sel = np.lexsort((nbr_ids, -sims))[:k]
    return pd.DataFrame({"vec_id": nbr_ids[sel], "sim": sims[sel]})


# ------------------------------------------- centroid entry layer (top graph)

#: build/search parameters for the centroid-level graph; cell counts are
#: orders of magnitude below corpus rows, so generous degree/beam are
#: still cheap (M=12/ef=64 measured 0 exact-top-nprobe misses over 80
#: probes of 300 UNCLUSTERED gaussian centroids — the hardest small-world
#: case; real IVF centroids are k-means-separated and easier)
CENTROID_M = 12
CENTROID_EF = 64
#: below this many cells the exact O(C) centroid scan is faster than any
#: graph walk — the graph only earns its keep at ~10^5-10^6 cells
CENTROID_GRAPH_MIN = 4096

_CENTROID_GRAPH_MEMO: dict = {}


def _build_centroid_graph(centroids):
    """Deterministic small-world graph over the IVF centroids — the HNSW
    TOP LAYER that makes entry-cell selection global (VERDICT r10 #8a).

    The per-cell graphs answer "nearest vectors INSIDE a probed cell";
    picking WHICH cells to probe was an exact O(C) L2 scan of the
    centroid matrix on the driver. At fixture scale that is optimal, but
    a 100 TB corpus carries ~10^5-10^6 cells and serves many queries —
    the centroid layer then wants the same O(ef·log C) greedy descent
    HNSW uses between its own layers. This graph is built ONCE per index
    load (driver-side — centroids are already collected for ranking),
    with the identical determinism contract as `_build_cell_graph`:
    md5-geometric levels, inserts in cell-id order, neighbor selection by
    (L2 ASC, cell ASC). Distances are SQUARED L2 — the same metric
    `hnsw_search`/`_ivf_index` rank cells by, so a wide-enough beam
    reproduces the exact top-nprobe cell set (pinned by test)."""
    import numpy as np

    cells = sorted(int(c) for c, _ in centroids)
    by_id = {int(c): np.asarray(v, dtype=np.float64) for c, v in centroids}
    X = np.stack([by_id[c] for c in cells])
    n = len(cells)
    m_l = 1.0 / math.log(CENTROID_M)
    levels = [_level_of(c, m_l) for c in cells]
    nbrs: list[list[list[int]]] = [
        [[] for _ in range(levels[i] + 1)] for i in range(n)
    ]
    cap = lambda lvl: (2 * CENTROID_M) if lvl == 0 else CENTROID_M

    def _d2(i, q):
        diff = X[i] - q
        return float(diff @ diff)

    def _search_layer(q, entries, ef, lvl):
        import heapq

        visited = set(entries)
        cand = [(_d2(e, q), cells[e], e) for e in entries]
        heapq.heapify(cand)
        best = sorted(cand)
        while cand:
            d, _, u = heapq.heappop(cand)
            if len(best) >= ef and d > best[ef - 1][0]:
                break
            for w in nbrs[u][lvl]:
                if w in visited:
                    continue
                visited.add(w)
                entry = (_d2(w, q), cells[w], w)
                if len(best) < ef or entry < best[ef - 1]:
                    heapq.heappush(cand, entry)
                    best.append(entry)
                    best.sort()
                    del best[ef:]
        return best

    entry_pt = 0
    max_lvl = levels[0]
    for i in range(1, n):
        q = X[i]
        lvl = levels[i]
        ep = [entry_pt]
        for l in range(max_lvl, lvl, -1):
            ep = [_search_layer(q, ep, 1, l)[0][2]]
        for l in range(min(lvl, max_lvl), -1, -1):
            found = _search_layer(q, ep, CENTROID_EF, l)
            picks = [w for _, _, w in found[: cap(l)]]
            nbrs[i][l] = picks
            for w in picks:
                lst = nbrs[w][l]
                lst.append(i)
                if len(lst) > cap(l):
                    ranked = sorted(
                        (_d2(x, X[w]), cells[x], x) for x in lst
                    )
                    nbrs[w][l] = [x for _, _, x in ranked[: cap(l)]]
            ep = [w for _, _, w in found[:1]] or ep
        if lvl > max_lvl:
            max_lvl = lvl
            entry_pt = i
    return {
        "cells": cells,
        "X": X,
        "levels": levels,
        "nbrs": nbrs,
        "entry": entry_pt,
        "max_lvl": max_lvl,
    }


def _centroid_digest(centroids) -> str:
    """Identity of the LIVE centroid set — save/compact republish new
    generations at the same path, so a path-only memo key would serve a
    graph over retired centroids (ADVICE r11). Hash the (cell, vector)
    list itself; it is already collected driver-side, so this is O(C·d)
    with no extra I/O."""
    import numpy as np

    h = hashlib.md5()
    for cell, vec in sorted(centroids, key=lambda cv: int(cv[0])):
        h.update(int(cell).to_bytes(8, "little", signed=True))
        h.update(np.asarray(vec, dtype=np.float64).tobytes())
    return h.hexdigest()


def _centroid_graph(key, centroids):
    live = (key, _centroid_digest(centroids))
    got = _CENTROID_GRAPH_MEMO.get(live)
    if got is None:
        # drop any graph memoized for a retired generation at this path
        for k in [k for k in _CENTROID_GRAPH_MEMO if k[0] == key]:
            del _CENTROID_GRAPH_MEMO[k]
        got = _CENTROID_GRAPH_MEMO[live] = _build_centroid_graph(centroids)
    return got


def centroid_probe_cells(graph, query_v, nprobe: int, ef: int | None = None):
    """Greedy-descend the centroid graph from the top layer, beam
    max(ef, CENTROID_EF, nprobe) at layer 0, return the nprobe nearest
    cells by (squared L2 ASC, cell ASC) — the global HNSW entry."""
    import heapq

    import numpy as np

    cells, X, levels, nbrs = (
        graph["cells"], graph["X"], graph["levels"], graph["nbrs"],
    )
    q = np.asarray(query_v, dtype=np.float64)
    ef = max(ef or 0, CENTROID_EF, nprobe)

    def _d2(i):
        diff = X[i] - q
        return float(diff @ diff)

    cur = graph["entry"]
    for l in range(graph["max_lvl"], 0, -1):
        improved = True
        while improved:
            improved = False
            for w in nbrs[cur][l] if l < len(nbrs[cur]) else []:
                if (_d2(w), cells[w]) < (_d2(cur), cells[cur]):
                    cur = w
                    improved = True
    visited = {cur}
    cand = [(_d2(cur), cells[cur], cur)]
    best = list(cand)
    heapq.heapify(cand)
    while cand:
        d, _, u = heapq.heappop(cand)
        if len(best) >= ef and d > best[ef - 1][0]:
            break
        for w in nbrs[u][0]:
            if w in visited:
                continue
            visited.add(w)
            entry = (_d2(w), cells[w], w)
            if len(best) < ef or entry < best[ef - 1]:
                heapq.heappush(cand, entry)
                best.append(entry)
                best.sort()
                del best[ef:]
    return [c for _, c, _ in best[:nprobe]]


# ------------------------------------------------- index persistence API

def save_hnsw_index(
    spark: SparkSession, sf_dir: str, path: str, spill: int = 1
) -> None:
    """Persist the per-cell HNSW index: `graph/` (parquet PARTITIONED BY
    cell — vec_id, v, level, per-level adjacency; a cell probe lists
    exactly `cell=c/`) + `hnsw.json` (the IVF centroids the cells were
    trained by, plus the graph parameters). Retrains publish behind the
    repo-wide `GenerationPair` pointer flip — readers never observe a
    graph under foreign centroids."""
    import json as _json

    centroids, _ = _ivf_index(spark, sf_dir, "full")
    graph = _hnsw_graph(spark, sf_dir, spill)
    meta = {
        "centroids": [[cell, list(c)] for cell, c in centroids],
        "m": HNSW_M,
        "ef": HNSW_EF,
        "spill": spill,
    }
    GenerationPair(path, "graph", "hnsw.json").publish(
        spark,
        lambda out: graph.write.mode("overwrite").partitionBy("cell").parquet(out),
        meta=_json.dumps(meta),
    )


def load_hnsw_index(spark: SparkSession, path: str):
    """(centroids, graph DataFrame) — lazy, cell-pruned reads."""
    import json as _json
    import os as _os

    gp = GenerationPair(path, "graph", "hnsw.json")
    d, m = gp.live()
    with open(_os.path.join(path, m)) as fh:
        meta = _json.load(fh)
    centroids = [
        (int(cell), [float(x) for x in c]) for cell, c in meta["centroids"]
    ]
    return centroids, spark.read.parquet(_os.path.join(path, d))


def hnsw_search(
    spark: SparkSession,
    path: str,
    query_v: list[float],
    k: int = 5,
    nprobe: int = 1,
    additions_path: str | None = None,
    use_centroid_graph: bool | None = None,
) -> DataFrame:
    """Top-k over the persisted graph: pick the nprobe entry cells (exact
    centroid scan below CENTROID_GRAPH_MIN cells; the centroid-layer
    graph walk above it — the global HNSW entry, VERDICT r10 #8a), walk
    those cells' graphs (one Arrow task each, partition-pruned reads),
    and — the base+segment serving split shared with IVF — brute-force
    the (small) live-additions segment's rows in the probed cells
    exactly, since streamed vectors are not linked into the graph until
    `compact`. Both paths emit sims in the engine's exact fold order, so
    the union ranks consistently."""
    import numpy as np

    from event_store_spark.functions.vectors import cosine

    centroids, graph = load_hnsw_index(spark, path)
    if use_centroid_graph is None:
        use_centroid_graph = len(centroids) >= CENTROID_GRAPH_MIN
    if use_centroid_graph:
        top = _centroid_graph(path, centroids)
        cells = centroid_probe_cells(top, query_v, nprobe)
    else:
        q = np.asarray(query_v, dtype=np.float64)
        ranked = sorted(
            (float(((q - np.asarray(c)) ** 2).sum()), cell)
            for cell, c in centroids
        )
        cells = [cell for _, cell in ranked[:nprobe]]
    probed = (
        graph.where(F.col("cell").isin(cells))
        .withColumn("qv", F.lit([float(x) for x in query_v]))
        .withColumn("q_id", F.lit(-1).cast("bigint"))
        .withColumn("k", F.lit(int(k)))
    )
    found = probed.groupBy("cell").applyInPandas(
        _search_cell, "vec_id bigint, sim double"
    )
    if additions_path is not None:
        adds = (
            spark.read.parquet(additions_path)
            .where(F.col("cell").isin(cells))
            .select(
                "vec_id",
                cosine(
                    F.col("v"), F.lit([float(x) for x in query_v])
                ).alias("sim"),
            )
        )
        found = found.unionByName(adds)
    # spilled bases (save_hnsw_index(spill>1)) hold a vector in several
    # cells; a multi-cell probe then surfaces it once per cell with the
    # SAME exact-fold sim — collapse before ranking (the aggregation is
    # over at most nprobe*k + segment rows, never the corpus)
    found = found.groupBy("vec_id").agg(F.max("sim").alias("sim"))
    return found.orderBy(F.col("sim").desc(), "vec_id").limit(k)


def compact_hnsw_index(
    spark: SparkSession, path: str, additions_path: str
) -> None:
    """Fold a streamed additions segment (an `ivf_assign_stream` target —
    the segment layout is SHARED with IVF) into the graph: only the
    TOUCHED cells re-link (their base vectors + the segment's, one
    `_build_cell_graph` task per cell); untouched cells' graph rows carry
    over unchanged. Published behind the same GenerationPair flip as
    `save_hnsw_index` — a reader mid-scan on the previous generation
    finishes (deferred GC)."""
    import os as _os

    gp = GenerationPair(path, "graph", "hnsw.json")
    d, m = gp.live()
    base = spark.read.parquet(_os.path.join(path, d))
    adds = spark.read.parquet(additions_path).select("cell", "vec_id", "v")
    src_cols = ["cell", "vec_id", "v"]
    if "rank" in base.columns:
        # spilled base (save_hnsw_index(spill>1)): segment rows are
        # rank-1 (primary-cell) assignments — the streamed maintainer is
        # the shared unspilled IVF assigner; spilled re-links happen at
        # the periodic retrain
        src_cols.append("rank")
        adds = adds.withColumn("rank", F.lit(1).cast("int"))
    touched = [r["cell"] for r in adds.select("cell").distinct().collect()]
    untouched = base.where(~F.col("cell").isin(touched))
    relink_src = (
        base.where(F.col("cell").isin(touched)).select(*src_cols)
        .unionByName(adds)
    )
    relinked = relink_src.groupBy("cell").applyInPandas(
        _build_cell_graph,
        "cell int, vec_id bigint, level int, nbrs array<array<bigint>>",
    )
    relinked = relink_src.join(relinked, ["cell", "vec_id"]).select(
        *untouched.columns
    )
    with open(_os.path.join(path, m)) as fh:
        meta_body = fh.read()
    gp.publish(
        spark,
        lambda out: untouched.unionByName(relinked)
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(out),
        meta=meta_body,
    )


@register("ann_hnsw_topk", oracle=ORACLE["ann_ivf_topk"])
def ann_hnsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-ANN top-5 for vec_id=0: probe the query's IVF cell, walk
    that cell's HNSW graph (one Arrow task), exact-fold re-rank the
    beam. SAME ORACLE as `ann_ivf_topk` — exact top-5 over the probed
    cell — so the hash check IS the recall guarantee: a graph-search
    miss of any true neighbor fails the driver gate, not a dashboard."""
    graph = _hnsw_graph(spark, sf_dir)
    query = graph.where(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"),
        F.col("vec_id").alias("q_id"),
        F.col("cell").alias("qcell"),
    )
    probed = graph.join(
        F.broadcast(query), F.col("cell") == F.col("qcell")
    ).withColumn("k", F.lit(TOPK))
    found = probed.groupBy("cell").applyInPandas(
        _search_cell, "vec_id bigint, sim double"
    )
    return (
        found.select("vec_id", F.round("sim", 4).alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(TOPK)
    )


@register("ann_hnsw_spilled_topk", oracle=ORACLE["ann_ivf_spilled_topk"])
def ann_hnsw_spilled_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-ANN over the SPILLED layout (VERDICT r11 #8a): per-cell HNSW
    graphs built over the spill=2 membership (`ivf.assign_spilled`), so
    walking the query's single primary cell also reaches the boundary
    vectors spilled in from adjacent cells. SAME ORACLE as
    `ann_ivf_spilled_topk` — exact top-5 over the spilled probed cell —
    so the hash check IS the recall guarantee for the composed
    graph+spill plan. A vector appears at most once per cell, so a
    single-cell probe needs no dedup stage."""
    graph = _hnsw_graph(spark, sf_dir, spill=2)
    query = graph.where(
        (F.col("vec_id") == 0) & (F.col("rank") == 1)
    ).select(
        F.col("v").alias("qv"),
        F.col("vec_id").alias("q_id"),
        F.col("cell").alias("qcell"),
    )
    probed = graph.join(
        F.broadcast(query), F.col("cell") == F.col("qcell")
    ).withColumn("k", F.lit(TOPK))
    found = probed.groupBy("cell").applyInPandas(
        _search_cell, "vec_id bigint, sim double"
    )
    return (
        found.select("vec_id", F.round("sim", 4).alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(TOPK)
    )
