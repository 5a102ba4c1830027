"""Streaming PROJECTION maintenance: keep a MergeTree-projection state
table current under a micro-batched stream.

ClickHouse maintains table PROJECTIONs at insert/merge time; ``ddl.
translate_ddl`` parses ``PROJECTION`` entries into ``ProjectionSpec``s and
``operators/projection.py`` gives them batch build/answer/route semantics —
this sink is the third leg: DDL → operator → continuous maintenance. Each
micro-batch contributes one partial-aggregated chunk of states which is
re-merged into the stored state (count→sum, sum→sum, min/max→themselves,
uniq→HLL register-max union) — the same ⊕ the MergeTree background merge
applies to projection parts.

Exactly-once: sum/count states are ADDITIVE, so unlike the pure-HLL sketch
sink a replayed batch would double-count. Applied-batch markers (written
through the Hadoop FileSystem API so remote state dirs behave — the
sketch-sink lesson) make the common replay path (state committed, stream
checkpoint not) a no-op; the residual crash window between state write and
marker write stays at-least-once, closable only by a transactional table
format (same contract, and same docstring honesty, as retract_rollup).

At 100 TB: state size is |distinct keys|, independent of stream volume;
with ``partition_key`` set (one of the projection keys) each merge touches
only the key partitions present in the batch via dynamic partition
overwrite. Without it the WHOLE state re-writes per batch — only for
small-key projections (that branch localCheckpoints the merge first, since
a full non-dynamic overwrite deletes the input path before the job runs).

Decimal note: Spark widens decimal sums per aggregation level — pin sum
measures to a fixed decimal type (or use integer cents) or re-merged
states drift in parquet schema across batches (the parts_rollup lesson).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.projection import Projection, build_projection
from . import start_foreach_batch


class ProjectionSink:
    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        keys: dict[str, Column],
        measures: dict[str, tuple[str, Column]],
        partition_key: str | None = None,
    ):
        if partition_key is not None and partition_key not in keys:
            raise ValueError(f"partition_key {partition_key!r} not a key")
        self.spark = spark
        self.state_dir = state_dir
        self.keys = keys
        self.measures = measures
        self.kinds = {n: kind for n, (kind, _) in measures.items()}
        self.partition_key = partition_key

    @classmethod
    def from_spec(cls, spark, state_dir: str, spec,
                  partition_key: str | None = None) -> "ProjectionSink":
        """Build a sink straight from a ``ddl.ProjectionSpec`` — the CH
        ``CREATE TABLE … PROJECTION`` entry made continuously maintained."""
        keys, measures = spec.to_operator_args()
        return cls(spark, state_dir, keys, measures, partition_key)

    # -- hadoop-fs helpers (remote-safe, unlike os.path) ---------------------
    def _fs_and_path(self, p: str):
        jvm = self.spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(p)
        return path.getFileSystem(self.spark._jsc.hadoopConfiguration()), path

    def _has_state(self) -> bool:
        fs, path = self._fs_and_path(self.state_dir)
        if not fs.exists(path):
            return False
        return any(
            not st.getPath().getName().startswith(("_", "."))
            for st in fs.listStatus(path)
        )

    def _marker(self, batch_id: int):
        return self._fs_and_path(f"{self.state_dir}/_applied/batch-{batch_id}")

    # -- the merge -----------------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        fs, marker = self._marker(batch_id)
        if fs.exists(marker):
            return  # replayed batch: already merged, checkpoint lagged
        incoming = build_projection(batch_df, self.keys, self.measures)
        if not incoming.df.take(1):
            return
        merged = incoming
        if self._has_state():
            stored = self.spark.read.parquet(self.state_dir)
            if self.partition_key is not None:
                touched = [
                    r[0] for r in
                    incoming.df.select(self.partition_key).distinct().collect()
                ]
                stored = stored.filter(F.col(self.partition_key).isin(touched))
            merged = Projection(
                stored, tuple(self.keys), dict(self.kinds)
            ).updated(incoming)
        out = merged.df.coalesce(1)
        if self.partition_key is not None:
            (out.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy(self.partition_key).parquet(self.state_dir))
        else:
            # full overwrite deletes the dir BEFORE the job runs — pin the
            # merge in memory first so the read side is never pulled from
            # the path being replaced
            out = out.localCheckpoint()
            out.write.mode("overwrite").parquet(self.state_dir)
        fs.create(marker, True).close()

    def attach(self, stream: DataFrame, checkpoint_dir: str,
               **trigger_kwargs) -> StreamingQuery:
        return start_foreach_batch(stream, self.process_batch, checkpoint_dir, trigger_kwargs)

    # -- reads ----------------------------------------------------------------
    def projection(self) -> Projection:
        return Projection.read(
            self.spark, self.state_dir, list(self.keys), dict(self.kinds)
        )

    def serve(self, group_keys: list[str], asked: dict[str, tuple]) -> DataFrame:
        """Answer a covered GROUP BY from the maintained state — the routed
        read path over live-maintained data."""
        return self.projection().answer(group_keys, asked)
