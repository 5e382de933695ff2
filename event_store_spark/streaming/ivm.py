"""Incremental view maintenance (IVM) for JOIN aggregates.

`ContinuousRollup` maintains a single-table windowed aggregate;
real materialized views aggregate over JOINS — `revenue per nation` is
customer ⋈ orders, and recomputing it per refresh reads both full
tables. For append-only sources the textbook delta rule makes the
refresh cost proportional to the CHANGE:

    Δ(R ⋈ S) = ΔR ⋈ S_pre  ∪  R_pre ⋈ ΔS  ∪  ΔR ⋈ ΔS

and for additive aggregates (SUM/COUNT) the view merge is a per-group
addition. This module maintains exactly that:

- the two sources are one tagged stream of deltas (side = 'l' | 'r'),
  the shape a CDC/append feed naturally has;
- `_pre` snapshots are the view's own accumulating copies of each side,
  appended AFTER the batch's delta join — so during processing they
  hold precisely the pre-batch state (no anti-join reconstruction). At
  warehouse scale the "_pre" side is the source table itself read at
  snapshot isolation; the copies here stand in for that snapshot and
  keep the module self-contained;
- the view table lives behind the same atomic pointer flip /
  idempotent-replay contract as `ContinuousRollup`/`CdcMaterializer`
  (all are a `plans.generations.VersionedTable`; the flip is the
  commit marker; replays of committed batches skip; replays of
  uncommitted batches rebuild) — crucially the side
  snapshots are also rolled forward idempotently: a replayed committed
  batch must not re-append its deltas. Side subdirs self-compact every
  ``compact_every`` batches behind a _SNAP pointer (same flip
  discipline), so a long-running stream's listing/read cost stays
  bounded instead of growing one subdir per micro-batch.

Aggregates: any dict of column → additive measure (``sum(expr)`` /
``count(*)`` shapes), the incrementally-mergeable class. MIN/MAX are
deliberately out: they are not differentiable under deletion and need
per-group state; use `CdcMaterializer` + recompute or a sketch.

Scale: each refresh joins only deltas against one full side (broadcast
the delta side — it is the small one by construction) plus delta ⋈
delta; the view merge touches only groups present in the delta
aggregate. Nothing ever re-reads both full sides.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from event_store_spark.core.state import atomic_write
from event_store_spark.plans.generations import VersionedTable


class JoinAggregateView(VersionedTable):
    """Maintain ``agg(R ⋈ S) GROUP BY group_cols`` incrementally.

    ``join_keys``: equi-join column names shared by both sides.
    ``measures``: output column → (side-qualified) additive expression
    built by the caller from the joined frame, e.g.
    ``{"revenue": F.sum(F.col("amount")), "n": F.count(F.lit(1))}``.
    """

    def __init__(
        self,
        spark: SparkSession,
        join_keys: list[str],
        left_cols: list[str],
        right_cols: list[str],
        group_cols: list[str],
        measures: dict[str, Column],
        target_path: str,
        checkpoint: str,
        *,
        left_schema: str,
        right_schema: str,
        compact_every: int = 8,
    ) -> None:
        """``left_schema``/``right_schema``: Spark DDL of each side's delta
        rows (the columns in ``left_cols``/``right_cols``). They make the
        pre-first-commit :meth:`table` schema EXACT — the first cut
        fabricated all-string groups / all-double measures, so a consumer
        unioning across the first commit hit a type mismatch (ADVICE r5).

        ``compact_every``: fold the per-batch side-delta subdirectories
        into one snapshot once this many accumulate since the last fold —
        long-running streams otherwise grow unbounded small files and
        ever-longer per-refresh listing/read work (ADVICE r5)."""
        super().__init__(spark, target_path)
        self.join_keys = list(join_keys)
        self.left_cols = list(left_cols)  # incl. join keys
        self.right_cols = list(right_cols)
        self.group_cols = list(group_cols)
        self.measures = dict(measures)
        self.checkpoint = checkpoint
        self.left_schema = left_schema
        self.right_schema = right_schema
        self.compact_every = int(compact_every)

    # ------------------------------------------------------------- plumbing

    def _side_dir(self, side: str) -> str:
        return os.path.join(self.target_path, f"_side_{side}")

    def _snap_pointer(self, side: str) -> str:
        return os.path.join(self._side_dir(side), "_SNAP")

    def _side_snapshot(self, side: str) -> tuple[int, str] | None:
        """(watermark, dirname) of the compacted snapshot covering every
        side delta with batch id <= watermark, or None before the first
        compaction. The pointer file is the commit marker (os.replace),
        same contract as _CURRENT."""
        try:
            with open(self._snap_pointer(side)) as fh:
                w, name = fh.read().split()
                return int(w), name
        except (FileNotFoundError, ValueError):
            return None

    def _side_subdirs(self, side: str) -> list[tuple[int, str]]:
        """Live per-batch delta subdirs as (batch_id, path)."""
        d = self._side_dir(side)
        out = []
        if os.path.isdir(d):
            for sub in os.listdir(d):
                if sub.startswith("b") and sub[1:].isdigit():
                    out.append((int(sub[1:]), os.path.join(d, sub)))
        return sorted(out)

    def _side_pre(self, side: str, batch_id: int, schema) -> DataFrame:
        """The side's accumulated snapshot BEFORE this batch: the compacted
        snapshot (if any) plus per-batch subdirectories in
        (watermark, batch_id). Per-batch subdirs + overwrite writes make
        the roll-forward idempotent under any crash/replay interleaving —
        a replayed batch overwrites its own subdir and never
        double-appends, and an uncommitted replay whose subdir already
        exists is EXCLUDED from its own pre-state by the id < batch_id
        filter."""
        snap = self._side_snapshot(side)
        base_w = -1
        paths = []
        if snap is not None:
            base_w, name = snap
            if base_w >= batch_id:
                # compaction only ever covers committed batches, and a
                # committed batch never reaches the delta rule again
                raise RuntimeError(
                    f"side snapshot watermark {base_w} >= batch {batch_id}"
                )
            paths.append(os.path.join(self._side_dir(side), name))
        paths.extend(
            p for i, p in self._side_subdirs(side) if base_w < i < batch_id
        )
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.parquet(*paths)

    def table(self) -> DataFrame:
        current = self._current_version()
        if current is None:
            # pre-first-commit: derive the schema from the SAME join+agg
            # expressions a real refresh runs, over empty typed frames —
            # group keys keep their input types, measures their aggregate
            # types (count -> bigint), so unions across the first commit
            # type-check (ADVICE r5)
            dl = self.spark.createDataFrame([], self.left_schema).select(
                *self.left_cols
            )
            dr = self.spark.createDataFrame([], self.right_schema).select(
                *self.right_cols
            )
            return (
                dl.join(dr, self.join_keys)
                .groupBy(*self.group_cols)
                .agg(*[m.alias(n) for n, m in self.measures.items()])
            )
        return self._full(current)

    # ------------------------------------------------------------ the rule

    def _delta_view(
        self, dl: DataFrame, dr: DataFrame, batch_id: int
    ) -> DataFrame:
        """agg over ΔR ⋈ S_pre ∪ R_pre ⋈ ΔS ∪ ΔR ⋈ ΔS."""
        l_pre = self._side_pre("l", batch_id, dl.schema)
        r_pre = self._side_pre("r", batch_id, dr.schema)
        joined = (
            F.broadcast(dl).join(r_pre, self.join_keys)
            .unionByName(l_pre.join(F.broadcast(dr), self.join_keys))
            .unionByName(dl.join(dr, self.join_keys))
        )
        return joined.groupBy(*self.group_cols).agg(
            *[m.alias(name) for name, m in self.measures.items()]
        )

    def _merge(self, tagged: DataFrame, batch_id: int) -> None:
        current = self._current_version()
        version = f"_v{batch_id}"
        dl = tagged.where(F.col("_side") == "l").select(*self.left_cols)
        dr = tagged.where(F.col("_side") == "r").select(*self.right_cols)
        if current != version:
            delta = self._delta_view(dl, dr, batch_id)
            if current is None:
                merged = delta
            else:
                existing = self.table()
                meas = list(self.measures)
                merged = (
                    existing.alias("e")
                    .join(delta.alias("d"), self.group_cols, "full_outer")
                    .select(
                        *[
                            F.coalesce(f"e.{c}", f"d.{c}").alias(c)
                            for c in self.group_cols
                        ],
                        *[
                            (
                                F.coalesce(F.col(f"e.{m}"), F.lit(0))
                                + F.coalesce(F.col(f"d.{m}"), F.lit(0))
                            ).alias(m)
                            for m in meas
                        ],
                    )
                )
            self._publish(merged, batch_id)
        # roll the side snapshots forward: each batch's delta goes to its
        # OWN subdir with overwrite semantics (idempotent under replay;
        # see _side_pre for why the layout also keeps the pre-state exact)
        for side, delta_df in (("l", dl), ("r", dr)):
            snap = self._side_snapshot(side)
            if snap is not None and batch_id <= snap[0]:
                # replay of a batch already folded into the snapshot
                # (ADVICE r6): re-creating b{id} here would orphan it
                # forever — id <= the snapshot watermark is excluded from
                # pre-state and from every future fold, so it would
                # accumulate on each such replay. The data is already in
                # the snapshot; skip.
                continue
            sub = os.path.join(self._side_dir(side), f"b{batch_id}")
            delta_df.write.mode("overwrite").parquet(sub)
            self.spark.catalog.refreshByPath(sub)
            self._maybe_compact(side, upto=batch_id)

    def _maybe_compact(self, side: str, upto: int) -> None:
        """Fold per-batch side subdirs with id <= upto (all committed by
        this point — the view pointer flipped before the side writes)
        into one snapshot dir once `compact_every` accumulate.

        Crash-safe ordering: the folded snapshot is fully written under a
        fresh name FIRST, then the _SNAP pointer flips (os.replace), then
        superseded inputs are GC'd — a crash at any point leaves the
        pointer naming a complete snapshot or the old state, and orphan
        dirs are re-folded or overwritten by the next attempt."""
        snap = self._side_snapshot(side)
        base_w = snap[0] if snap else -1
        live = [
            (i, p) for i, p in self._side_subdirs(side) if base_w < i <= upto
        ]
        if len(live) < self.compact_every:
            return
        paths = [p for _, p in live]
        if snap is not None:
            paths.insert(0, os.path.join(self._side_dir(side), snap[1]))
        name = f"snap{upto}"
        out = os.path.join(self._side_dir(side), name)
        if os.path.exists(out):
            shutil.rmtree(out)  # crashed earlier attempt at the same fold
        self.spark.read.parquet(*paths).write.mode("overwrite").parquet(out)
        self.spark.catalog.refreshByPath(out)
        atomic_write(self._snap_pointer(side), f"{upto} {name}")
        for _, p in live:
            shutil.rmtree(p, ignore_errors=True)
        if snap is not None and snap[1] != name:
            shutil.rmtree(
                os.path.join(self._side_dir(side), snap[1]), ignore_errors=True
            )
        # sweep below-watermark orphans too: subdirs a pre-fix replay
        # re-created after their content was folded (their data is in the
        # snapshot by the fold invariant, so removal is always safe)
        for i, p in self._side_subdirs(side):
            if i <= base_w:
                shutil.rmtree(p, ignore_errors=True)

    # ------------------------------------------------------------- running

    def start(self, tagged_stream: DataFrame, available_now: bool = True):
        """`tagged_stream` must carry a `_side` column ('l' | 'r') plus
        each side's columns (the other side's NULL) — the union shape a
        two-source file/CDC feed produces."""
        writer = (
            tagged_stream.writeStream.foreachBatch(self._merge)
            .outputMode("update")
            .option("checkpointLocation", self.checkpoint)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()


class DistinctCountView(VersionedTable):
    """Incrementally-maintained per-group DISTINCT counts.

    COUNT(DISTINCT) is not additive — re-appearing members must not
    re-count — so the additive merge of `JoinAggregateView` cannot
    maintain it. The mergeable form is the sketch: each batch computes a
    DataSketches HLL per group over its delta (`hll_sketch_agg`) and the
    view merge is `hll_union` on the stored sketch binaries — the
    standard streaming-OLAP design (Druid/Pinot store exactly these
    sketch columns). Estimates surface on read via
    `hll_sketch_estimate`; the sketches themselves stay in the table so
    merges never lose precision beyond the sketch's own error bound
    (~1.6% at the default lgk=12).

    Same versioned pointer-flip / idempotent-replay contract as the
    other maintainers; state per group is one bounded binary, so the
    view size is O(#groups) regardless of stream length.
    """

    def __init__(
        self,
        spark: SparkSession,
        group_cols: list[str],
        value_col: str,
        target_path: str,
        checkpoint: str,
        *,
        input_schema: str | None = None,
    ) -> None:
        """``input_schema`` (Spark DDL of the delta rows, covering the
        group and value columns) makes the pre-first-commit
        :meth:`table` schema exact — same fix as JoinAggregateView's
        left/right schemas (ADVICE r5); without it the empty frame
        falls back to all-string group keys."""
        super().__init__(spark, target_path)
        self.group_cols = list(group_cols)
        self.value_col = value_col
        self.checkpoint = checkpoint
        self.input_schema = input_schema

    def _sketches(self) -> DataFrame | None:
        current = self._current_version()
        return None if current is None else self._full(current)

    def table(self) -> DataFrame:
        """(group_cols..., approx_distinct) as of the last commit."""
        sk = self._sketches()
        if sk is None:
            if self.input_schema is not None:
                return (
                    self.spark.createDataFrame([], self.input_schema)
                    .groupBy(*self.group_cols)
                    .agg(
                        F.hll_sketch_estimate(
                            F.hll_sketch_agg(self.value_col)
                        )
                        .cast("bigint")
                        .alias("approx_distinct")
                    )
                )
            fields = ", ".join(f"{c} string" for c in self.group_cols)
            return self.spark.createDataFrame(
                [], f"{fields}, approx_distinct bigint"
            )
        return sk.select(
            *self.group_cols,
            F.hll_sketch_estimate("sk").cast("bigint").alias(
                "approx_distinct"
            ),
        )

    def _merge(self, batch_df: DataFrame, batch_id: int) -> None:
        current = self._current_version()
        version = f"_v{batch_id}"
        if current == version:
            return  # replay of a committed batch
        delta = batch_df.groupBy(*self.group_cols).agg(
            F.hll_sketch_agg(self.value_col).alias("sk")
        )
        existing = self._sketches()
        if existing is None:
            merged = delta
        else:
            merged = (
                existing.unionByName(delta)
                .groupBy(*self.group_cols)
                .agg(F.hll_union_agg("sk").alias("sk"))
            )
        self._publish(merged, batch_id)

    def start(self, stream: DataFrame, available_now: bool = True):
        writer = (
            stream.writeStream.foreachBatch(self._merge)
            .outputMode("update")
            .option("checkpointLocation", self.checkpoint)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
