"""Continuous aggregates: foreachBatch-maintained rollup store.

The streaming twin of queries.events.events_multi_rollup: each
micro-batch contributes PARTIAL aggregates (count + sum are
commutative monoids) which merge into a per-(grain, bucket,
event_type) store. This is the continuous-aggregate pattern from
the time-series world — the store always holds the same numbers a
full batch re-aggregation would produce, at per-batch cost
proportional to the batch, not the history.

Store contract: ``merge(pdf)`` receives one micro-batch's partial
aggregate as a pandas frame. The in-memory store here is the TEST
TWIN (driver-resident dict — fine for bounded bucket counts, not
for unbounded key spaces); the DEFAULT durable backend is
``state_store.ParquetRollupStore`` (bucketed executor-side parquet
MERGE, replay-idempotent through the epoch key
``state_store.start_store_stream`` scopes to the checkpoint
lineage).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

GRAINS = ("hour", "day")


@dataclass
class RollupStore:
    """(grain, bucket_start, event_type) -> [n_events, total_value]."""

    rows: dict[tuple, list] = field(default_factory=dict)

    def merge(self, pdf) -> None:
        for r in pdf.itertuples(index=False):
            key = (r.grain, r.bucket_start, r.event_type)
            cur = self.rows.setdefault(key, [0, 0.0])
            cur[0] += int(r.n_events)
            cur[1] += float(r.total_value)

    def snapshot(self) -> list[tuple]:
        return sorted(
            (g, b, t, n, round(v, 2))
            for (g, b, t), (n, v) in self.rows.items())


def _partial_rollup(batch_df: DataFrame) -> DataFrame:
    grains = batch_df.select(
        F.explode(F.array(*[
            F.struct(F.lit(g).alias("grain"),
                     F.date_trunc(g, "ts").alias("bucket_start"))
            for g in GRAINS
        ])).alias("g"),
        "event_type", "value",
    ).select("g.grain", "g.bucket_start", "event_type", "value")
    return grains.groupBy("grain", "bucket_start", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("total_value"))


def start_incremental_rollup(stream: DataFrame, store: RollupStore,
                             checkpoint_dir: str) -> StreamingQuery:
    """Maintain the multi-grain rollup incrementally via
    foreachBatch. The per-batch aggregation runs distributed; only
    the already-aggregated partials (O(#buckets) rows) reach the
    store."""
    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        store.merge(_partial_rollup(batch_df).toPandas())

    return (stream.writeStream
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(handle).start())
