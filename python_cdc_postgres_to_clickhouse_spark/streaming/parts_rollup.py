"""Parts-based rollup sink: exactly-once additive aggregation, no txn format.

An additive merge is not idempotent: a rollup merged into its state in
place double-counts a replayed batch unless a marker guards it, and a crash
between the state write and the marker still leaves an at-least-once window
(the marker sinks ``retract_rollup`` and ``projection_sink`` document it).
This sink closes that window with the MergeTree parts model the provisioned
destination actually uses (reference docker-compose.yml:155-166), kept by
``parts_log.PartsLog``:

- **Insert = part.** Batch N writes its partial aggregate to its own part,
  never merging in place; a replayed batch overwrites the same part with
  the same rows.
- **SELECT = merge at read.** ``serve()`` unions base + live parts and sums
  — ClickHouse's AggregatingMergeTree read semantics. Cost is O(live
  parts), bounded by compaction.
- **Background merge = compaction.** ``compact()`` folds parts into a new
  base version committed by one atomic manifest replace; a replayed batch
  at or below the manifest's watermark is skipped (its effect is already
  in base), which keeps compaction and replay commutative.

At 100 TB: each part is a few-KB-to-MB partial aggregate (one row per
(bucket, dims) the batch touched), the stream never rewrites history, and
compaction is a bounded background job — the same write-amplification
profile as a MergeTree insert path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from . import start_foreach_batch
from .parts_log import PartsLog

_N_T = "bigint"
_SUM_T = "decimal(38,6)"


class PartedRollupSink:
    """Per-(hour, event_type) additive partials of an append-only event
    stream, stored as one part per micro-batch + a versioned compacted base."""

    def __init__(self, spark: SparkSession, rollup_dir: str):
        self.spark = spark
        self.log = PartsLog(rollup_dir)

    @staticmethod
    def _partials(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("bucket", F.date_trunc("hour", F.col("ts")))
            .groupBy("bucket", "event_type")
            .agg(
                F.count(F.lit(1)).cast(_N_T).alias("n_events"),
                # Fixed decimal width — sum precision drifts per aggregation
                # level otherwise and parts stop reading together.
                F.sum(F.col("value").cast("decimal(18,6)"))
                .cast(_SUM_T)
                .alias("sum_value"),
            )
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.log.is_folded(batch_id):
            return
        # mode=overwrite also heals a torn part from a crash mid-write (the
        # part is rewritten whole before the stream commits the offsets).
        self._partials(batch_df).coalesce(1).write.mode("overwrite").parquet(
            self.log.part_dir(batch_id)
        )

    def attach(self, events: DataFrame, checkpoint_dir: str, **trigger_kwargs) -> StreamingQuery:
        return start_foreach_batch(events, self.process_batch, checkpoint_dir, trigger_kwargs)

    def _merged(self, part_ids: list[int]) -> DataFrame | None:
        """Base ⊎ the given parts, summed per (bucket, event_type)."""
        paths = self.log.paths(part_ids)
        if not paths:
            return None
        return (
            self.spark.read.parquet(*paths)
            .groupBy("bucket", "event_type")
            .agg(
                F.sum("n_events").cast(_N_T).alias("n_events"),
                F.sum("sum_value").cast(_SUM_T).alias("sum_value"),
            )
        )

    def serve(self) -> DataFrame | None:
        """Merge-at-read: base ⊎ live parts, summed — AggregatingMergeTree's
        SELECT semantics. Derived metrics from the partials."""
        r = self._merged(self.log.live_part_ids())
        if r is None:
            return None
        return r.select(
            "bucket",
            "event_type",
            "n_events",
            F.col("sum_value").cast("double").alias("sum_value"),
            (
                F.col("sum_value").cast("double") / F.col("n_events").cast("double")
            ).alias("avg_value"),
        )

    def compact(self, through_batch_id: int | None = None) -> None:
        """Fold live parts ≤ ``through_batch_id`` (default: all) into a new
        base version (see ``PartsLog.compact`` for crash safety)."""

        def write_base(ids: list[int], base: str) -> None:
            self._merged(ids).coalesce(1).write.mode("overwrite").parquet(base)

        self.log.compact(write_base, through_batch_id)
