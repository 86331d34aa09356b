"""Incrementally-maintained CDC snapshot: the streaming twin of
``queries.cdc.cdc_apply_snapshot``.

THE canonical consumer of the reference's Kafka topic: fold the
change stream into current-table-state, per micro-batch, at cost
proportional to the batch — not the history. Latest-wins by binlog
position is a commutative monoid (positions are totally ordered
within a key), so per-batch partials merge associatively into the
store and the result is ALWAYS what a full batch re-fold of the
whole changelog would produce (pinned in
tests/test_streaming.py::test_incremental_snapshot_matches_batch).

Store contract mirrors rollup.RollupStore: ``merge(pdf)`` receives
one micro-batch's pre-folded partial (one row per touched key —
the distributed agg runs in Spark; only O(#touched keys) rows reach
the store). The in-memory ``SnapshotStore`` here is the TEST TWIN
only — its accumulated dict is driver-resident, i.e. the table's
full key cardinality in one Python process, which does not survive
100 TB. The DEFAULT durable backend is
``state_store.ParquetSnapshotStore`` (bucketed executor-side
parquet MERGE, replay-idempotent, state never materialized on the
driver); the Spark-4 tier is ``stateful.snapshot_maintenance``
(transformWithStateInPandas, RocksDB state). n_changes makes the
dict merge non-idempotent under epoch REPLAY, which is exactly the
job of the durable store's (bucket, epoch) commit claims under the
lineage-scoped key of ``state_store.start_store_stream`` — same
division of labor as the rollup.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


@dataclass
class SnapshotStore:
    """(database, table, pk) -> [last_pos, last_value, last_action,
    n_changes]."""

    rows: dict[tuple, list] = field(default_factory=dict)

    def merge(self, pdf) -> None:
        for r in pdf.itertuples(index=False):
            key = (r.database, r.table, r.pk)
            cur = self.rows.get(key)
            if cur is None:
                self.rows[key] = [int(r.last_pos), float(r.last_value),
                                  r.last_action, int(r.n_changes)]
                continue
            cur[3] += int(r.n_changes)
            if int(r.last_pos) > cur[0]:
                cur[0], cur[1], cur[2] = (int(r.last_pos),
                                          float(r.last_value), r.last_action)

    def snapshot(self) -> list[tuple]:
        """Live rows only (delete tombstones drop), sorted — the
        same contract as cdc_apply_snapshot's output."""
        return sorted(
            (db, tbl, pk, v, pos, n)
            for (db, tbl, pk), (pos, v, act, n) in self.rows.items()
            if act != "delete")


def partial_snapshot(changes: DataFrame) -> DataFrame:
    """One micro-batch's latest-wins partial: expects the projected
    change frame (database, table, action, pk, v, pos) that
    cdc_apply_snapshot builds, folds it per key with max_by —
    partial-aggregated map-side, one row per touched key."""
    return (changes.groupBy("database", "table", "pk")
            .agg(F.max_by("action", "pos").alias("last_action"),
                 F.max_by("v", "pos").alias("last_value"),
                 F.max("pos").alias("last_pos"),
                 F.count("*").alias("n_changes")))


def start_incremental_snapshot(changes_stream: DataFrame,
                               store: SnapshotStore,
                               checkpoint_dir: str) -> StreamingQuery:
    """Maintain the snapshot via foreachBatch: the per-batch fold
    runs distributed; only per-key partials reach the store."""
    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        store.merge(partial_snapshot(batch_df).toPandas())

    return (changes_stream.writeStream
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(handle).start())
