"""Incremental materialized JOIN view under two CDC streams — delta-rule
view maintenance (the classic ΔQ = ΔA ⋈ B ∪ A ⋈ ΔB, realized bucket-wise).

The reference's destination serves joins by recomputing them per query;
warehouse practice materializes hot join views and maintains them
incrementally as both base tables change. This sink maintains

    VIEW = latest_state(A) ⋈_{join_key} latest_state(B)   (inner equi)

under CDC change streams for A and B, without ever recomputing the full
join:

- **Base states** are latest-by-key upsert tables (the D3 semantic),
  hash-bucketed on each side's PRIMARY key — the same protocol as
  streaming/upsert_sink.py, tombstones and all.
- **Affected join keys** of a micro-batch = join keys carried by the new
  rows ∪ join keys the batch's primary keys pointed to BEFORE the batch
  (read from pre-batch state). The second term handles the MOVE case: an
  update that changes a row's join key must erase its pairs under the old
  key, which a new-rows-only delta would silently leave stale.
- **View recompute** is bucket-local: only view buckets holding affected
  join keys are rebuilt, by joining the two post-batch states semi-joined
  down to those buckets. A dynamic overwrite replaces a whole bucket, so
  every join key hashed into it is recomputed, not only the affected ones —
  otherwise the pairs of an unaffected key sharing the bucket would be
  erased. Cost tracks |Δ| and the join fan-out of the touched buckets,
  never view size.
- **Sentinel rows** guarantee every affected bucket is WRITTEN even when
  its recomputed content is empty (all pairs gone): dynamic partition
  overwrite only replaces partitions present in the output, so an
  all-pairs-deleted bucket would otherwise keep serving stale rows. One
  null-keyed sentinel per affected bucket, filtered at read — keeps the
  write a single dynamic-overwrite pass with no per-bucket driver loop.

Crash/replay protocol (exactly-once effects without a txn format): the
VIEW write happens BEFORE the state writes. Replay of a batch whose state
writes crashed recomputes the same affected set from the same pre-state —
idempotent. Replay of a FULLY committed batch sees post-batch state, so
the old-key term vanishes from the affected set — but those buckets were
already rewritten correctly by the committed pass, and recomputing the
remaining buckets from unchanged state is a byte-identical no-op. A
partially-written view heals on replay (all affected buckets rebuilt);
mid-write readers see bucket-level eventual consistency, the same
contract as the other sinks here.

All three tables (left state, right state, view) are
``state_table.StateTable`` directories: reads apply the schema pinned at
write time, so no read infers a schema from the Parquet footers.

Scale (100 TB): per batch, each side does one bucket-pruned state merge
(upsert protocol) and the view rebuild reads two state tables pruned by a
broadcast semi-join on the affected view buckets; the join itself shuffles
only rows of those buckets. At 4096 buckets a busy batch rewrites a few dozen
bucket files per table.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.upsert import latest_by_key
from . import start_foreach_batch
from .state_table import StateTable


class JoinViewSink:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        join_key: str,
        left_keys: Sequence[str] = ("id",),
        right_keys: Sequence[str] = ("rid",),
        order_by: Sequence[str] = ("source_lsn", "kafka_offset"),
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.left_state = StateTable(spark, os.path.join(base_dir, "left"))
        self.right_state = StateTable(spark, os.path.join(base_dir, "right"))
        self.view_state = StateTable(
            spark, os.path.join(base_dir, "view"), partition_col="vbucket"
        )
        self.join_key = join_key
        self.left_keys = list(left_keys)
        self.right_keys = list(right_keys)
        self.order_by = list(order_by)
        self.n_buckets = n_buckets

    # -- state plumbing (upsert protocol, one table per side) -------------

    def _merged_state(
        self, state: DataFrame | None, batch: DataFrame, keys: list[str]
    ) -> DataFrame:
        """Post-batch latest-by-key state as an unpersisted frame
        (tombstones retained, exactly the upsert sink's merge)."""
        merged = (
            state.drop("bucket").unionByName(batch, allowMissingColumns=True)
            if state is not None
            else batch
        )
        return latest_by_key(
            merged, keys=keys, order_by=self.order_by, drop_deletes=False
        )

    def _write_state(self, state: DataFrame, table: StateTable, keys: list[str]) -> None:
        table.overwrite(
            state.withColumn("bucket", F.pmod(F.hash(*keys), F.lit(self.n_buckets)))
        )

    # -- the incremental maintenance step --------------------------------

    def _affected_join_keys(
        self,
        state: DataFrame | None,
        batch: DataFrame,
        keys: list[str],
    ) -> DataFrame:
        """Join keys touched by this batch on one side: the batch rows' own
        join keys plus the join keys its primary keys held in pre-batch
        state (the MOVE term)."""
        jk = self.join_key
        new_jks = batch.select(jk)
        if state is None:
            return new_jks
        old_jks = state.join(
            batch.select(*keys).distinct(), keys, "left_semi"
        ).select(jk)
        return new_jks.unionByName(old_jks)

    def process_batch(
        self, left_batch: DataFrame, right_batch: DataFrame, batch_id: int = 0
    ) -> None:
        jk = self.join_key
        l_state = self.left_state.read()
        r_state = self.right_state.read()

        affected = (
            self._affected_join_keys(l_state, left_batch, self.left_keys)
            .unionByName(self._affected_join_keys(r_state, right_batch, self.right_keys))
            .filter(F.col(jk).isNotNull())
            .distinct()
        )

        l_new = self._merged_state(l_state, left_batch, self.left_keys)
        r_new = self._merged_state(r_state, right_batch, self.right_keys)

        # Hash the join key at ONE type: the two sides may carry it as int
        # and long, whose hashes differ.
        key_type = affected.schema[jk].dataType
        vbucket = F.pmod(F.hash(F.col(jk).cast(key_type)), F.lit(self.n_buckets))
        vbuckets = affected.select(vbucket.alias("vbucket")).distinct()

        def live(new: DataFrame) -> DataFrame:
            """Served (non-tombstone) rows whose join key hashes into an
            affected view bucket."""
            return (
                new.filter(F.col("op") != "d")
                .withColumn("vbucket", vbucket)
                .join(F.broadcast(vbuckets), "vbucket", "left_semi")
            )

        l_live = live(l_new)
        r_live = live(r_new).drop("vbucket")
        overlap = set(l_live.columns) & set(r_live.columns) - {jk}
        r_sel = [F.col(jk)] + [
            F.col(c).alias(f"r_{c}" if c in overlap else c)
            for c in r_live.columns
            if c != jk
        ]
        pairs = l_live.join(r_live.select(*r_sel), jk, "inner")

        # Sentinels: one null-keyed row per affected bucket so empty
        # recomputes still overwrite their partition.
        out = pairs.withColumn("_sentinel", F.lit(False)).unionByName(
            vbuckets.withColumn("_sentinel", F.lit(True)), allowMissingColumns=True
        )
        # VIEW first, then states (see crash/replay protocol above).
        self.view_state.overwrite(out)
        self._write_state(l_new, self.left_state, self.left_keys)
        self._write_state(r_new, self.right_state, self.right_keys)

    # -- serving ----------------------------------------------------------

    def view(self) -> DataFrame | None:
        df = self.view_state.read()
        if df is None:
            return None
        return df.filter(~F.col("_sentinel")).drop("_sentinel", "vbucket")

    # -- streaming attachment (tagged union stream) -----------------------

    def attach(
        self,
        tagged_changes: DataFrame,
        checkpoint_dir: str,
        side_col: str = "_side",
        **trigger_kwargs,
    ) -> StreamingQuery:
        """Drive from ONE stream carrying both sides, tagged 'l'/'r' in
        ``side_col`` (two independent streaming queries could not
        coordinate a single consistent batch)."""

        def _step(batch_df: DataFrame, batch_id: int) -> None:
            l = batch_df.filter(F.col(side_col) == "l").drop(side_col)
            r = batch_df.filter(F.col(side_col) == "r").drop(side_col)
            self.process_batch(l, r, batch_id)

        return start_foreach_batch(tagged_changes, _step, checkpoint_dir, trigger_kwargs)
