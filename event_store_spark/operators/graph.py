"""Distributed graph operators: connected components for duplicate-cluster
resolution.

The round-4 `dedup_clusters` used plain min-label propagation: correct, but
rounds = component DIAMETER and every round layered join→agg→join→cache on
the previous round's lineage — on a real near-dup graph (chains of
boilerplate documents hundreds deep) that is the classic iterative-Spark
failure mode (unbounded lineage + O(diameter) rounds).

This module implements the two fixes the round-4 verdict named:

* **Large-star / small-star alternation** (Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC'14 — public algorithm, also the
  basis of GraphFrames' Spark implementation): each round rewires edges
  toward per-neighborhood minima, which contracts path length
  multiplicatively, so rounds are O(log n) in practice regardless of
  diameter. Each round is two shuffles (a groupBy for the neighborhood min
  and a join to rewire) — the same per-round cost as naive propagation but
  exponentially fewer rounds on chain-shaped graphs.

* **Periodic lineage truncation**: every `checkpoint_every` rounds the edge
  DataFrame is `localCheckpoint(eager=True)`-ed, so plan depth (and with it
  driver planning time and failure-recovery cost) stays bounded no matter
  how many rounds run. Intermediate rounds are cached and explicitly
  unpersisted once superseded.

Semantics: undirected graph given as an edge list; returns one row per
vertex with `cluster` = the minimum vertex id reachable from it. Vertices
with no edges are their own cluster.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _symmetric(edges: DataFrame) -> DataFrame:
    """Both orientations of each edge, self-loops dropped."""
    fwd = edges.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.unionAll(rev).where(F.col("src") != F.col("dst"))


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor v > u to min(Γ(u) ∪ {u}).

    Input: canonically oriented (src > dst) distinct edges. Output: (v, m)
    pairs with v > m, canonically oriented, possibly with duplicates (the
    round's single distinct runs in `_small_star`, halving the shuffles per
    round).
    """
    sym = _symmetric(edges)
    mins = sym.groupBy("src").agg(F.min("dst").alias("_nbr_min"))
    m: Column = F.least(F.col("src"), F.col("_nbr_min"))
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), m.alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every smaller-neighbor of u (and u itself) to
    m = min(Γ⁻(u) ∪ {u}).

    Input: large→small oriented edges (large_star's output shape), dups
    tolerated. Output: canonically oriented distinct edges — the loop-state
    invariant.
    """
    oriented = edges
    mins = oriented.groupBy("src").agg(F.min("dst").alias("_m"))
    joined = oriented.join(mins, "src")
    # (v, m) for every smaller neighbor v, plus (u, m) itself
    nbrs = joined.select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
    selfs = mins.select("src", F.col("_m").alias("dst"))
    return (
        nbrs.unionAll(selfs)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    max_rounds: int = 50,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Min-id connected components via large-star/small-star alternation.

    `vertices`: one column `doc_id` (any orderable type shared with edges).
    `edges`: columns `src`, `dst` (undirected; orientation/self-loops/dups
    are tolerated). Returns (doc_id, cluster) with cluster = min id of the
    component.

    Convergence: a round that changes nothing leaves the edge set fixed, so
    we compare a per-round checksum (count + bit_xor of xxhash64 over the
    canonical large→small distinct orientation — XOR never overflows under
    ANSI mode, and over a DISTINCT set it is an order-independent set
    hash). A collision would terminate one round early on a 64-bit
    coincidence — acceptable for a fixpoint witness and far cheaper than an
    anti-join equality check every round.

    Scale posture: per round two shuffles over the current edge set, which
    SHRINKS monotonically toward one star edge per non-root vertex; plan
    lineage is cut by localCheckpoint every `checkpoint_every` rounds, so
    the 100 TB chain-graph case (rounds ≈ log n ≈ 40) keeps bounded plans.
    """
    cur = (
        _symmetric(edges)
        .where(F.col("dst") < F.col("src"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _checksum(e: DataFrame):
        # this agg is also the job that materializes the round's lazy
        # localCheckpoint / cache — exactly ONE Spark action per round
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    prev_sum = _checksum(cur)
    for rnd in range(1, max_rounds + 1):
        nxt = _small_star(_large_star(cur))
        if rnd % checkpoint_every == 0:
            nxt = nxt.localCheckpoint(eager=False)
        else:
            nxt = nxt.cache()
        new_sum = _checksum(nxt)  # materializes nxt
        cur.unpersist()
        cur = nxt
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds; "
            "the graph is adversarial or max_rounds is set too low "
            "(rounds needed ≈ log2(largest component size))"
        )

    # converged: edges are star edges (vertex → component root). min() per
    # src guards the final round's possibly-unmerged duplicates.
    labels = cur.groupBy(F.col("src").alias("doc_id")).agg(
        F.min("dst").alias("cluster")
    )
    out = (
        vertices.join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster", "doc_id").alias("cluster"),
        )
        # eagerly materialize the O(V) label table so the final round's
        # cached edge set can be released NOW — without this, every call
        # pinned one edge-set in executor storage for the session's
        # lifetime (round-5 review finding); the label table itself must
        # be materialized for any downstream use anyway
        .localCheckpoint(eager=True)
    )
    cur.unpersist()
    return out


def pagerank(
    edges: DataFrame,
    *,
    damping: float = 0.85,
    iterations: int = 10,
    checkpoint_every: int = 3,
    broadcast_ranks: bool = True,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list.

    ``edges``: columns ``src``, ``dst`` (directed; for an undirected graph
    pass both orientations), plus an optional positive ``weight`` column
    (multi-edge counts, transition frequencies); absent means unit weights.
    Returns ``(node, rank)`` for every node that appears as a source or
    destination, after exactly ``iterations`` synchronous power steps from
    the uniform vector:

        rank'(v) = (1-d)/N + d * (sum_{u->v} rank(u)·w(u,v)/W(u) + dm/N)

    with W(u) the total out-weight of u (out-degree when unweighted)

    where ``dm`` is the total rank mass sitting on dangling nodes (no
    out-edges), redistributed uniformly — the standard stochastic-matrix
    completion, so ranks sum to 1 every iteration (GraphX's default instead
    lets dangling mass leak; the redistributing form is what the fixed-point
    literature analyses and what a NumPy reference reproduces exactly).

    Fixed iteration count (not a convergence test) keeps the operator
    deterministic and oracle-able: the same `iterations` unrolls to the same
    chained SQL on any engine. Convergence-driven stopping belongs to the
    caller looping on the L1 delta between successive outputs.

    Plan, per iteration: the degree-weighted edge table (built ONCE,
    eagerly materialized, never re-scanned from source) joins the rank
    vector, partial-sums by ``dst`` (map-side combine collapses each
    partition to at most one row per node before the exchange), and
    left-joins back onto the node set; the dangling-mass term rides as a
    one-row broadcast. The rank vector is O(V) rows of (id, double).

    ``broadcast_ranks=True`` (default) broadcast-hints the rank and
    contribution vectors into their joins, so the E-row edge table is
    NEVER re-shuffled — each iteration moves only aggregate partials.
    This is the right plan while 16·V bytes fits executor memory (~10⁸
    nodes); measured at sf0.1 it is 4.5x faster than the hint-less form,
    because checkpointed vectors carry no stats and Catalyst otherwise
    falls back to sort-merge joins that re-shuffle all E rows every step.
    For billion-node graphs pass ``broadcast_ranks=False`` and persist the
    edge table bucketed by ``src`` (`sources/bucketed`) so the per-step
    join co-locates without moving E rows.

    Iterations where the vector is referenced more than once (dangling
    aggregate + contribution join) cache it, and every
    ``checkpoint_every``-th iteration truncates lineage with an eager
    localCheckpoint — same bounded-plan contract as `connected_components`.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    # weights must be strictly positive: a zero/negative total out-weight
    # makes the row-normalization W(u) degenerate (NaN/negative ranks), and
    # a dangling check keyed on edge EXISTENCE would silently disagree with
    # one keyed on mass; callers aggregate counts, which are positive.

    wt = (
        F.col("weight").cast("double")
        if "weight" in edges.columns
        else F.lit(1.0)
    )
    e = edges.select("src", "dst", wt.alias("_wt"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    deg = e.groupBy("src").agg(F.sum("_wt").alias("_deg"))
    ew = (
        e.join(deg, "src")
        .select("src", "dst", (F.col("_wt") / F.col("_deg")).alias("_w"))
        .localCheckpoint(eager=True)
    )
    dangling = nodes.join(deg, nodes.node == deg.src, "left_anti")
    has_dangling = bool(dangling.head(1))
    if has_dangling:
        # referenced every iteration — materialize once; when there are
        # none (the common symmetrized-graph case) skip the job entirely
        dangling = dangling.localCheckpoint(eager=True)

    d = F.lit(float(damping))
    base = F.lit((1.0 - damping) / n_nodes)
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    cached: list[DataFrame] = []
    for it in range(1, iterations + 1):
        if has_dangling:
            # one-row aggregate, broadcast — referenced alongside the
            # contribution join, so the incoming rank vector is cached
            ranks = ranks.cache()
            cached.append(ranks)
            dm = F.broadcast(
                ranks.join(dangling, "node", "left_semi").agg(
                    F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm")
                )
            )
        rank_side = F.broadcast(ranks) if broadcast_ranks else ranks
        contrib = (
            ew.join(rank_side, ew.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("_w")).alias("_c"))
        )
        contrib_side = F.broadcast(contrib) if broadcast_ranks else contrib
        nxt = nodes.join(contrib_side, nodes.node == contrib.dst, "left")
        mass = F.coalesce(F.col("_c"), F.lit(0.0))
        if has_dangling:
            nxt = nxt.crossJoin(dm)
            mass = mass + F.col("_dm") / F.lit(float(n_nodes))
        ranks = nxt.select("node", (base + d * mass).alias("rank"))
        if it % checkpoint_every == 0 or it == iterations:
            ranks = ranks.localCheckpoint(eager=True)
            for c in cached:
                c.unpersist()
            cached = []
        elif not has_dangling:
            # referenced once next iteration — cache to keep the recursive
            # plan from recomputing it if the caller also references it
            ranks = ranks.cache()
            cached.append(ranks)
    for c in cached:
        c.unpersist()
    return ranks


def label_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    rounds: int = 3,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Seeded majority-vote label propagation (weak supervision).

    ``nodes``: columns ``node``, ``label`` — non-NULL labels are SEEDS and
    stay clamped forever. ``edges``: columns ``src``, ``dst``; influence
    flows src -> dst (symmetrize for undirected spreading). Each synchronous
    round recomputes every non-seed node's label as the MAJORITY label among
    its currently-labeled in-neighbors, ties broken by smallest label, NULL
    when no in-neighbor is labeled — so a non-seed label can flip or vanish
    as the neighborhood evolves, and the fixed round count (not a
    convergence test) keeps the operator deterministic and oracle-able,
    exactly like `pagerank`. All state is integer votes and label values —
    no floats, so cross-engine parity is exact, not banded.

    Plan, per round: labeled rows join the edge table, ONE
    `mode(label, deterministic=true)` aggregate per dst picks the winner
    (majority, ties → lowest — an ObjectHashAggregate whose frequency
    maps fold map-side; one shuffle per round), and one left join folds
    winners under the clamped seeds. Short iterations
    (rounds <= checkpoint_every) are one pure lazy plan; longer runs are
    lineage-truncated every ``checkpoint_every`` rounds — the
    `connected_components` / `pagerank` bounded-plan contract.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")

    # Short iterations (rounds <= checkpoint_every) compose ONE pure lazy
    # plan: no localCheckpoint, no cache. Each round references the prior
    # label vector exactly once, so lineage depth is linear in rounds and
    # nothing recomputes exponentially; the base/edge subtrees are narrow
    # ops over the caller's (usually cached) inputs, so re-deriving them
    # per reference is a map-stage re-read, not a re-shuffle. What the
    # checkpoints actually cost at query time (r13): producing a
    # checkpoint RDD calls queryExecution.toRdd, which under AQE
    # materializes every upstream stage as separate sequential jobs
    # DURING PLAN CONSTRUCTION — three checkpoints made the 2-round kNN
    # query pay ~1.3 s of construction per invocation.
    pure = rounds <= checkpoint_every
    base = nodes.select("node", F.col("label").alias("_seed"))
    e = edges.select("src", "dst")
    if not pure:
        # long iterations keep the r11 lazy-checkpoint contract: lineage
        # truncates at first materialization, inputs materialize once
        base = base.localCheckpoint(eager=False)
        e = e.localCheckpoint(eager=False)
    cur = base.select("node", F.col("_seed").alias("label"))
    cached: list[DataFrame] = []
    for rnd in range(1, rounds + 1):
        labeled = cur.where(F.col("label").isNotNull())
        # winner per dst = majority label, ties to smallest label — ONE
        # `mode(label, deterministic=true)` aggregate ("most frequent
        # value; ties return the lowest", verified: nulls ignored, ties
        # → lexicographically smallest), replacing the r11 two-level
        # count-then-min_by chain. That chain cost TWO exchanges per
        # round — grouping by (dst, label) then re-grouping by dst — and
        # the min_by over an ordering STRUCT planned as a SortAggregate
        # (struct buffers aren't hash-aggregatable), adding a sort on
        # both sides of the second exchange. mode() is an
        # ObjectHashAggregate whose per-group frequency maps fold
        # MAP-SIDE and merge across partials, so each round is exactly
        # one shuffle of (dst, label-frequency partials).
        winners = (
            e.join(labeled, e.src == labeled.node)
            .groupBy(e.dst)
            .agg(F.mode("label", True).alias("_new"))
            .select(F.col("dst").alias("node"), "_new")
        )
        cur = base.join(winners, "node", "left").select(
            "node", F.coalesce("_seed", "_new").alias("label")
        )
        if pure:
            continue
        if rnd % checkpoint_every == 0 or rnd == rounds:
            # lazy for the same reason as the inputs: the caller's first
            # action (or the next round's join) materializes it once
            cur = cur.localCheckpoint(eager=False)
            for c in cached:
                c.unpersist()
            cached = []
        else:
            cur = cur.cache()
            cached.append(cur)
    for c in cached:
        c.unpersist()
    return cur
