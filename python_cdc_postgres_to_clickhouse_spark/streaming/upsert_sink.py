"""Streaming upsert sink (T7): foreachBatch merge into bucketed Parquet state.

This is the engine's ReplacingMergeTree: the reference provisions ClickHouse
as the CDC destination (docker-compose.yml:155-174) with no ingest code; here
each micro-batch merges into a partitioned Parquet "current state" table.

Scale design (100 TB):
- State is hash-bucketed on the key (``bucket = pmod(hash(key), n)``). A
  micro-batch only rewrites the buckets it touches — with dynamic partition
  overwrite, untouched buckets are never read or written. Bucket count is
  chosen so one bucket ≈ one comfortable task (e.g. 4096 buckets for a
  multi-TB state table).
- Replay safety (D4): Spark may re-deliver the last uncommitted batch after
  a crash. The merge is idempotent — latest-by-key over (state ∪ batch) with
  LSN ordering yields the same state when re-applied — so exactly-once
  *effects* hold without a transactional table format.
- Schema (D5): the state's schema is pinned in ``_schema.json`` inside the
  state directory (``state_table.StateTable``). Each merge first widens the
  pin to the union of the pinned and the new rows' schema, then writes the
  data, so a crash between the two leaves at worst an all-null extra
  column; reads apply the pin and never infer a schema from the Parquet
  footers. A state without a pin is inferred once with ``mergeSchema`` and
  then pinned.
- A real deployment would swap the Parquet state for Delta/Iceberg MERGE
  (jar not present in this container); the bucketed-overwrite pattern is the
  format-free equivalent.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.upsert import latest_by_key
from . import start_foreach_batch
from .state_table import StateTable


class ParquetUpsertSink:
    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        keys: Sequence[str] = ("id",),
        order_by: Sequence[str] = ("source_lsn", "kafka_offset"),
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.keys = list(keys)
        self.order_by = list(order_by)
        self.n_buckets = n_buckets
        self.table = StateTable(spark, state_dir)

    def _bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "bucket", F.pmod(F.hash(*self.keys), F.lit(self.n_buckets))
        )

    def read_state(self) -> DataFrame | None:
        # Read under the pinned schema (D5): buckets written before a source
        # column was added read it as null, and no footer job runs. The pin
        # is widened before every data write; a state without one is
        # inferred once with mergeSchema and pinned (state_table.py).
        return self.table.read()

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Merge one micro-batch of *flat change rows* into the state table."""
        # Persisted: the touched-bucket collect and the merge write would
        # otherwise each re-run the streaming batch plan (dedup state store
        # included).
        batch_df = self._bucket(batch_df).persist()
        try:
            touched = [r["bucket"] for r in batch_df.select("bucket").distinct().collect()]
            if not touched:
                return
            state = self.read_state()
            if state is not None:
                relevant = state.filter(F.col("bucket").isin(touched))
                merged = relevant.unionByName(batch_df, allowMissingColumns=True)
            else:
                merged = batch_df
            # Tombstones (op='d') STAY in the state table: a delete that wins in
            # batch N must still outrank an out-of-order older update arriving in
            # batch N+1 — dropping it here would resurrect the key. Deletes are
            # filtered at read time (current_state); at scale a periodic compaction
            # drops tombstones older than the source's replay horizon (the
            # reference's 7-day Kafka retention, debezium.json:24).
            new_state = latest_by_key(
                merged, keys=self.keys, order_by=self.order_by, drop_deletes=False
            )
            # Dynamic partition overwrite: only the touched buckets are replaced.
            self.table.overwrite(new_state)
        finally:
            batch_df.unpersist()

    def attach(
        self, changes: DataFrame, checkpoint_dir: str, **trigger_kwargs
    ) -> StreamingQuery:
        """Start the continuous upsert: changes stream → bucketed state."""
        return start_foreach_batch(changes, self.process_batch, checkpoint_dir, trigger_kwargs)

    def current_state(self) -> DataFrame | None:
        state = self.read_state()
        if state is None:
            return None
        return state.filter(F.col("op") != "d").drop("bucket")

    def compact(
        self,
        tombstone_horizon_lsn: int,
        ttl_older_than: "object | None" = None,
        ttl_col: str = "created_at",
    ) -> None:
        """Drop delete tombstones older than the source's replay horizon,
        and (optionally) expire live rows past a TTL.

        A tombstone only matters while an older change for its key can
        still arrive; once the source can no longer replay below
        ``tombstone_horizon_lsn`` (the reference's bound is 7-day Kafka
        retention, debezium.json:24), the tombstone is dead weight. Run
        periodically (e.g. daily); rewrites every bucket once — at scale,
        schedule per-bucket-range to spread the I/O.

        ``ttl_older_than`` is the ClickHouse ``TTL ts + INTERVAL n DELETE``
        analog the provisioned destination would enforce table-side: live
        rows whose ``ttl_col`` is strictly below the threshold are dropped
        in the same rewrite. Rows with a NULL ``ttl_col`` (e.g. tombstones,
        whose row state is gone) are never TTL-dropped — a tombstone's
        lifetime is governed by the replay horizon alone, and expiring it
        early could resurrect its key from an out-of-order older update.

        Like ClickHouse's merge-time TTL, expiry is eventually consistent:
        a late redelivery of an expired row re-enters the state until the
        next compaction sweeps it again. Choose the TTL threshold older
        than the replay horizon and the reappearance window is bounded by
        one compaction period.
        """
        state = self.read_state()
        if state is None:
            return
        keep = ~((F.col("op") == "d") & (F.col("source_lsn") < tombstone_horizon_lsn))
        if ttl_older_than is not None:
            expired = (F.col("op") != "d") & (
                F.col(ttl_col).isNotNull() & (F.col(ttl_col) < F.lit(ttl_older_than))
            )
            keep = keep & ~expired
        compacted = state.filter(keep).localCheckpoint(
            eager=True
        )  # materialize before overwriting the source
        # STATIC whole-table overwrite: compaction rewrites everything anyway,
        # and dynamic mode would leave a bucket directory untouched when every
        # one of its rows is an expired tombstone (nothing written for that
        # partition → nothing replaced → the tombstones would survive forever).
        # The overwrite deletes the pin too; replace() re-pins after the data.
        self.table.replace(compacted)
