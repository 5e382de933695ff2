"""Debezium-format CDC ingestion: materialize a change stream into a
keyed latest-state table.

The reference ships its own Postgres→Kafka replicator (SURVEY §3.2) and
consumes pgoutput frames directly (§2.3 F5). The ecosystem-standard way
to get a Postgres changefeed into Spark is Debezium's envelope —
``{op, ts_ms, before, after}`` per change — and this module is that
consumer: parse the envelope declaratively (`from_json`, no UDF), fold
each micro-batch to its per-key winners, and merge into a versioned
parquet table behind the same atomic pointer flip / idempotent-replay
contract as `streaming.rollup.ContinuousRollup` (both are a
`plans.generations.VersionedTable`; crash-safe: the flip is the commit
point and carries the sink's `streaming.eos` ledger, so a replayed
uncommitted batch rebuilds the next version and flips, and `eos` skips
a committed one).

Ordering/late data: every materialized row carries its change's
``(ts_ms, seq)``; a merge keeps, per key, the LARGEST such stamp across
the current table and the batch — so changes may arrive out of order
across batches without regressing state. Deletes are retained as
TOMBSTONES (``_deleted = true``, filtered by :meth:`table`), because a
delete must keep outranking earlier-stamped updates that arrive later;
dropping the row would resurrect stale data. Tombstones are the
standard CDC compaction debt — GC them once the feed's max lateness has
passed, exactly like a log-compacted topic.

Scale: the per-batch fold is one key-partitioned window over the batch;
the merge touches only CHANGED keys (anti-join + union). At 100 TB the
target is a partitioned table and the merge rewrites only partitions
containing touched keys — swap the monolithic write for
partitionBy(bucket(key)) with the same pointer contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from event_store_spark.plans.generations import VersionedTable
from event_store_spark.streaming.eos import ExactlyOnceSink


class CdcMaterializer(VersionedTable, ExactlyOnceSink):
    """Materialize Debezium changes for one table.

    ``row_schema`` is the Spark DDL of the table row (the Debezium
    ``before``/``after`` struct), ``keys`` its primary-key columns.
    """

    def __init__(
        self,
        spark: SparkSession,
        row_schema: str,
        keys: list[str],
        target_path: str,
        checkpoint: str,
    ) -> None:
        super().__init__(spark, target_path)
        self.row_schema = row_schema
        self.keys = list(keys)
        self.checkpoint = checkpoint

    # -------------------------------------------------------------- parsing

    def envelope_schema(self) -> str:
        return (
            "op string, ts_ms bigint, seq bigint, "
            f"before struct<{self.row_schema}>, after struct<{self.row_schema}>"
        )

    def parse(self, raw: DataFrame, value_col: str = "value") -> DataFrame:
        """Envelope JSON → normalized change rows.

        op c/r (create/snapshot-read) and u (update) carry ``after``;
        d (delete) carries only the key from ``before``. Malformed
        envelopes (from_json → null op) fail the batch loudly rather
        than being dropped — a CDC feed with garbage is an incident,
        not noise to skip (X6 fail-fast posture).
        """
        env = F.from_json(F.col(value_col), self.envelope_schema())
        parsed = raw.select(env.alias("e")).select(
            F.when(
                F.col("e.op").isin("c", "r", "u", "d"), F.col("e.op")
            ).alias("op"),
            "e.ts_ms",
            F.coalesce("e.seq", F.lit(0)).alias("seq"),
            "e.before",
            "e.after",
        )
        guarded = parsed.withColumn(
            "op",
            F.when(F.col("op").isNotNull(), F.col("op")).otherwise(
                F.raise_error(F.lit("malformed Debezium envelope"))
            ),
        )
        row = F.when(F.col("op") == "d", F.col("before")).otherwise(
            F.col("after")
        )
        return guarded.select(
            "op",
            "ts_ms",
            "seq",
            (F.col("op") == "d").alias("_deleted"),
            *[row[k].alias(k) for k in self.keys],
            row.alias("_row"),
        )

    # --------------------------------------------------------------- reading

    def table(self, version: str | None = None) -> DataFrame:
        """Live rows (tombstones filtered) as of the last committed merge
        — or, with ``version`` (a name from :meth:`versions`), time
        travel to a retained superseded snapshot."""
        current = self._current_version()
        if version is not None:
            if version not in self.versions():
                raise ValueError(f"unknown CDC version {version!r}")
            return self._full(version).where(~F.col("_deleted"))
        if current is None:
            # the merged schema == parse() minus op: derive it from an
            # empty envelope frame instead of re-parsing the DDL by hand
            empty = self.parse(self.spark.createDataFrame([], "value string"))
            return empty.drop("op").where(~F.col("_deleted"))
        return self._full(current).where(~F.col("_deleted"))

    # --------------------------------------------------------------- merging

    def _apply(self, changes: DataFrame, batch_id: int, commit) -> None:
        current = self._current_version()
        # last key: a TOTAL order over the row content (xxhash64 of the
        # row struct). Without it, two updates to one key with equal
        # (ts_ms, seq) tie after `_deleted` and row_number picks an
        # arbitrary winner — materialized state becomes nondeterministic
        # and a replayed uncommitted batch can rebuild a DIFFERENT
        # version than the original run (ADVICE r5). Content order is
        # arbitrary-but-stable: replay-safe under any partitioning, and
        # ties between identical rows are harmless by construction.
        w = Window.partitionBy(*self.keys).orderBy(
            F.col("ts_ms").desc(),
            F.col("seq").desc(),
            F.col("_deleted").desc(),
            F.xxhash64(F.col("_row")).desc(),
        )
        batch_latest = (
            changes.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "op")
        )
        if current is None:
            merged = batch_latest
        else:
            existing = self._full(current)
            touched = batch_latest.select(*self.keys)
            # winner per touched key across {current row, batch row}
            contested = existing.join(touched, self.keys, "left_semi")
            winners = (
                contested.unionByName(batch_latest)
                .withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn")
            )
            merged = existing.join(touched, self.keys, "left_anti").unionByName(
                winners
            )
        self._publish(merged, commit)

    def gc_tombstones(self, older_than_ms: int) -> int:
        """Drop tombstones with ``ts_ms < older_than_ms`` from the current
        state — the log-compaction step the module docstring records as
        standard CDC debt. Safe once the feed's max lateness has passed
        ``older_than_ms``: a tombstone only exists to outrank
        LATER-arriving but EARLIER-stamped updates, so once no in-flight
        change can carry a smaller stamp the tombstone is dead weight
        (exactly a compacted topic's delete-retention window).

        Publishes as a new version under the same pointer-flip contract;
        the flip keeps the ledger's (lineage, batch id), so the stream's
        next batch applies as usual, and in-flight readers keep their
        snapshot. Returns the number of tombstones dropped."""
        current = self._current_version()
        if current is None:
            return 0
        full = self._full(current)
        # coalesce the NULL leg explicitly (ADVICE r6): parse() guards op
        # but not ts_ms, and with a NULL stamp `dead` evaluates NULL —
        # excluded from where(dead) AND from where(~dead), silently
        # deleting a live row in the rewrite. NULL-stamped rows are
        # never GC-eligible (no evidence their lateness window passed).
        dead = F.coalesce(
            F.col("_deleted") & (F.col("ts_ms") < F.lit(int(older_than_ms))),
            F.lit(False),
        )
        n = full.where(dead).count()
        if n == 0:
            return 0
        self._publish(full.where(~dead))
        return n
