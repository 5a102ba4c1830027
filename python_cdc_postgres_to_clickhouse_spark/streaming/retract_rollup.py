"""Retractable rollup sink: incremental aggregates under updates & deletes.

``parts_rollup.PartedRollupSink`` maintains additive partials over an
APPEND-ONLY event stream. A CDC changelog is not append-only: updates move
rows between groups and change metric values, deletes retract them. This
sink maintains

    SELECT <group>, COUNT(*), SUM(<metric>) FROM current_state GROUP BY 1

incrementally from the Debezium envelope stream — the "materialized view
over ReplacingMergeTree" pattern a reference deployment would build in the
provisioned ClickHouse destination (reference docker-compose.yml:155-174).

The crucial design point: deltas are derived from **state transitions**,
never from raw deliveries. For each key the batch touches, the sink
compares the key's live row before the merge with its live row after the
merge and emits ``-old_contribution + new_contribution``. That makes the
rollup correct under everything the at-least-once transport throws at it:

- duplicate deliveries (any batch): the winning row is unchanged → Δ = 0;
- out-of-order deliveries: an older LSN losing to stored state → Δ = 0;
- update-after-delete resurrection, group-moving updates, delete-last:
  all are just transitions, retract old + assert new.

Write ordering (crash safety): rollup delta (guarded by a per-batch
marker) is committed BEFORE the key-state overwrite. Replay after a crash
at any point re-runs the batch: the marker makes the delta a no-op, the
state merge is idempotent (latest-by-key). Deriving the delta the other
way round — state first, delta on replay — would compute old = new and
lose the batch's effect forever. The residual window (crash between the
rollup parquet write and its marker) remains at-least-once, the same
honest bound as projection_sink.py; closing it needs a transactional
format or parts_rollup's parts log.

Scale (100 TB): per batch the sink reads only the state buckets the batch
touches, semi-joins to the batch's keys, and touches only the rollup
partitions whose groups changed. Rollup state is one row per live group —
independent of changelog length.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.upsert import latest_by_key
from . import start_foreach_batch
from .upsert_sink import ParquetUpsertSink

# Fixed partial types: decimal widths must not drift across batches or the
# rollup partitions stop reading together (same pitfall as parts_rollup.py).
_N_T = "bigint"
_SUM_T = "decimal(38,0)"


class RetractRollupSink:
    """Maintains ``GROUP BY group_expr`` counts/sums of the live CDC state.

    ``group_expr`` / ``metric_expr`` are SQL expressions over the flat
    (unwrapped) row — e.g. ``"length(username)"`` and ``"created_at_us"``.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        rollup_dir: str,
        group_expr: str,
        metric_expr: str,
        keys: tuple[str, ...] = ("id",),
        order_by: tuple[str, ...] = ("source_lsn", "kafka_offset"),
        n_buckets: int = 16,
        n_rollup_buckets: int = 8,
    ):
        self.spark = spark
        self.rollup_dir = rollup_dir
        self.group_expr = group_expr
        self.metric_expr = metric_expr
        self.keys = list(keys)
        self.n_rollup_buckets = n_rollup_buckets
        self._state = ParquetUpsertSink(
            spark, state_dir, keys=keys, order_by=order_by, n_buckets=n_buckets
        )

    # -- contributions ----------------------------------------------------

    def _contrib(self, rows: DataFrame, sign: int) -> DataFrame:
        """Per-group (count, sum) contribution of a set of LIVE rows."""
        live = rows.filter(F.col("op") != "d")
        return live.groupBy(F.expr(self.group_expr).alias("grp")).agg(
            (F.count(F.lit(1)) * sign).cast(_N_T).alias("n_rows"),
            (F.coalesce(F.sum(F.expr(self.metric_expr).cast(_SUM_T)), F.lit(0)) * sign)
            .cast(_SUM_T)
            .alias("sum_metric"),
        )

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.rollup_dir, "_applied", f"batch-{batch_id}")

    # -- batch processing -------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Merge one micro-batch of flat change rows (unwrap(keep_deletes=
        True) output) into rollup + key state."""
        # Persisted: the touched-bucket collect, the affected-key set and the
        # merge each read the batch, and must not each re-run its plan.
        bucketed = self._state._bucket(batch_df).persist()
        try:
            touched = [r["bucket"] for r in bucketed.select("bucket").distinct().collect()]
            if not touched:
                return
            affected = bucketed.select(*self.keys).distinct()
            state = self._state.read_state()
            if state is not None:
                relevant = state.filter(F.col("bucket").isin(touched))
                old_rows = relevant.join(affected, self.keys, "left_semi")
                merged = relevant.unionByName(bucketed, allowMissingColumns=True)
            else:
                old_rows = None
                merged = bucketed
            # Materialize the merged state: it is read twice (rollup delta +
            # state overwrite) and the second read must not see the first write.
            new_state = latest_by_key(
                merged, keys=self.keys, order_by=self._state.order_by, drop_deletes=False
            ).localCheckpoint(eager=True)

            if not os.path.exists(self._marker(batch_id)):
                new_contrib = self._contrib(
                    new_state.join(affected, self.keys, "left_semi"), +1
                )
                delta = new_contrib
                if old_rows is not None:
                    delta = new_contrib.unionByName(self._contrib(old_rows, -1))
                self._merge_rollup(delta)
                os.makedirs(os.path.dirname(self._marker(batch_id)), exist_ok=True)
                open(self._marker(batch_id), "w").close()

            self._state.table.overwrite(new_state)
        finally:
            bucketed.unpersist()

    def _merge_rollup(self, delta: DataFrame) -> None:
        delta = delta.withColumn(
            "rbucket", F.pmod(F.hash("grp"), F.lit(self.n_rollup_buckets))
        )
        rtouched = [r["rbucket"] for r in delta.select("rbucket").distinct().collect()]
        if not rtouched:
            return
        merged = delta
        if os.path.isdir(self.rollup_dir) and any(
            name.startswith("rbucket=") for name in os.listdir(self.rollup_dir)
        ):
            existing = self.spark.read.parquet(self.rollup_dir).filter(
                F.col("rbucket").isin(rtouched)
            )
            merged = existing.unionByName(delta)
        merged = (
            merged.groupBy("rbucket", "grp")
            .agg(
                F.sum("n_rows").cast(_N_T).alias("n_rows"),
                F.sum("sum_metric").cast(_SUM_T).alias("sum_metric"),
            )
            .localCheckpoint(eager=True)  # materialize before overwriting source
        )
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("rbucket")
            .parquet(self.rollup_dir)
        )

    # -- API --------------------------------------------------------------

    def attach(
        self, changes: DataFrame, checkpoint_dir: str, **trigger_kwargs
    ) -> StreamingQuery:
        return start_foreach_batch(changes, self.process_batch, checkpoint_dir, trigger_kwargs)

    def serve(self) -> DataFrame | None:
        """Live per-group aggregates; groups whose rows all retracted away
        net to zero and are dropped here."""
        if not os.path.isdir(self.rollup_dir) or not any(
            name.startswith("rbucket=") for name in os.listdir(self.rollup_dir)
        ):
            return None
        r = self.spark.read.parquet(self.rollup_dir)
        return r.filter(F.col("n_rows") > 0).select("grp", "n_rows", "sum_metric")

    def current_state(self) -> DataFrame | None:
        return self._state.current_state()
