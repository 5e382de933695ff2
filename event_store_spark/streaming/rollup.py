"""Continuous windowed rollup: an incrementally-maintained materialized
aggregate (the hypertable "continuous aggregate" shape).

Batch analog: ``q36`` (hourly count + sum per event type). This is the same
aggregation kept CONTINUOUSLY up to date over a stream: Structured
Streaming's windowed aggregation in update mode holds the running per-window
totals in the state store (restart-safe via the checkpoint), and every
micro-batch emits only the windows it touched; ``foreachBatch`` upserts
those rows into a versioned parquet table.

Exactly-once composition:
- the streaming agg replays deterministically from the checkpoint (same
  batch id → same cumulative rows), so the upsert is idempotent by
  construction — re-merging a replayed batch writes identical values;
- the table swap is a crash-safe pointer flip (`plans.generations.
  VersionedTable`): each merge writes a fresh ``_v<n>`` parquet
  directory, then atomically replaces the ``_CURRENT`` pointer file,
  which carries the sink's exactly-once ledger. A crash between the two
  leaves the previous version intact and the replayed batch re-produces
  the same new version; a replay of a committed batch, and a checkpoint
  the ledger has not seen, are `streaming.eos`'s to decide.
- late rows: ``withWatermark`` bounds state; rows later than the watermark
  delay are dropped by the aggregation (never reach the table). The
  watermark itself persists across restarts in the checkpoint commit log.

Scale: per-batch work is proportional to the windows touched by that batch,
not table size; the merge is a key anti-join of a small update set against
the rollup table. On a cluster the versioned-directory swap becomes dynamic
partition overwrite on the window-date partition — same idempotence
argument, partition-local rewrite cost. The rollup table is
aggregate-sized (windows × types), orders of magnitude smaller than the
event stream it summarizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_store_spark.plans.generations import VersionedTable
from event_store_spark.streaming.eos import ExactlyOnceSink


class ContinuousRollup(VersionedTable, ExactlyOnceSink):
    """Incrementally-maintained hourly rollup of an events stream.

    Parameters mirror the batch q36 contract: tumbling ``window_duration``
    windows per ``event_type`` with count + sum(value).

    Single maintainer per target: the streaming checkpoint serializes runs
    that share it; a SECOND maintainer with a different checkpoint raises
    at start once the table holds a batch of the first (`streaming.eos`),
    but two started together would interleave pointer flips (wrap the
    maintainer in `streaming.lock.LockManager` if deployment can't
    guarantee single ownership). Readers are always safe: they only follow
    the committed pointer, and ``_KEEP_VERSIONS`` superseded versions stay
    on disk for readers mid-swap.

    Subclass hook: the maintained aggregate is whatever
    :meth:`_aggregate` returns (any streaming aggregation whose state
    merges in update mode), with ``_VALUE_COLS`` / ``_EMPTY_SCHEMA``
    naming its output — see :class:`ContinuousOHLC`.
    """

    #: value columns the rollup table carries beyond (win_start, event_type)
    _VALUE_COLS = ["cnt", "sum_value"]
    _EMPTY_SCHEMA = (
        "win_start timestamp, event_type string, cnt bigint, sum_value double"
    )

    def __init__(
        self,
        spark: SparkSession,
        source_path: str,
        target_path: str,
        checkpoint: str,
        window_duration: str = "1 hour",
        watermark_delay: str = "2 hours",
        max_files_per_trigger: int | None = None,
    ) -> None:
        super().__init__(spark, target_path)
        self.source_path = source_path
        self.checkpoint = checkpoint
        self.window_duration = window_duration
        self.watermark_delay = watermark_delay
        self.max_files_per_trigger = max_files_per_trigger

    # ------------------------------------------------------------- table read

    def table(self, version: str | None = None) -> DataFrame:
        """The rollup table as of the latest committed merge — or, with
        ``version`` (a name from :meth:`versions`), time travel to a
        retained superseded snapshot (``_KEEP_VERSIONS`` of them survive
        GC, exactly like a table format's version retention window)."""
        if version is None:
            version = self._current_version()
        elif version not in self.versions():
            raise ValueError(f"unknown rollup version {version!r}")
        if version is None:
            return self.spark.createDataFrame([], self._EMPTY_SCHEMA)
        return self._full(version)

    # ---------------------------------------------------------------- running

    def _apply(self, batch_df: DataFrame, batch_id: int, commit) -> None:
        updates = batch_df.select(
            F.col("window.start").alias("win_start"),
            "event_type",
            *self._VALUE_COLS,
        )
        current = self._current_version()
        if current is None:
            merged = updates
        else:
            merged = self._full(current).join(
                updates.select("win_start", "event_type"),
                ["win_start", "event_type"],
                "left_anti",
            ).unionByName(updates)
        self._publish(merged, commit)

    def start(self):
        """Start (or resume) the availableNow maintenance query."""
        schema = self.spark.read.parquet(self.source_path).schema
        reader = self.spark.readStream.schema(schema)
        if self.max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        stream = reader.parquet(self.source_path)
        return super().start(self._aggregate(stream))

    def run_available(self) -> None:
        """Process everything currently in the source, then stop."""
        q = self.start()
        q.awaitTermination()

    # ------------------------------------------------------------- aggregate

    def _aggregate(self, stream: DataFrame) -> DataFrame:
        """The maintained aggregation (q36 shape): override in subclasses
        to maintain a different windowed aggregate — anything whose state
        merges under update mode qualifies."""
        return (
            stream.withWatermark("ts", self.watermark_delay)
            .groupBy(
                F.window("ts", self.window_duration).alias("window"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum("value").alias("sum_value"),
            )
        )


class ContinuousOHLC(ContinuousRollup):
    """Incrementally-maintained OHLC candlestick bars — the streaming twin
    of `plans.pipeline8.ohlc_bars` at window granularity.

    Open/close are min_by/max_by over the same fixed-width zero-padded
    (epoch_us, event_id) total-order key as the batch query, so first/last
    are deterministic regardless of arrival or merge order — which is what
    makes the aggregate safe to maintain incrementally: min_by/max_by
    buffers merge associatively in the state store, so a bar's open/close
    converge to the same values however the stream is micro-batched.
    Inherits the versioned-parquet upsert, idempotent replay, and
    watermark late-drop machinery unchanged."""

    _VALUE_COLS = ["open", "high", "low", "close", "volume", "turnover"]
    _EMPTY_SCHEMA = (
        "win_start timestamp, event_type string, open double, high double, "
        "low double, close double, volume bigint, turnover double"
    )

    def _aggregate(self, stream: DataFrame) -> DataFrame:
        sk = F.concat(
            F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
            F.lpad(F.col("event_id").cast("string"), 12, "0"),
        )
        return (
            stream.withWatermark("ts", self.watermark_delay)
            .withColumn("_sk", sk)
            .groupBy(
                F.window("ts", self.window_duration).alias("window"),
                "event_type",
            )
            .agg(
                F.min_by("value", "_sk").alias("open"),
                F.max("value").alias("high"),
                F.min("value").alias("low"),
                F.max_by("value", "_sk").alias("close"),
                F.count(F.lit(1)).alias("volume"),
                F.sum("value").alias("turnover"),
            )
        )
