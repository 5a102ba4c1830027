"""Pinned-schema Parquet state tables: the one read/write path of the
bucketed foreachBatch sinks (upsert, retractable rollup, SCD2, join view).

Each sink keeps its state as a hash-partitioned Parquet directory that a
micro-batch rewrites partition by partition, so a column added mid-stream
(D5) is present only in the partitions written since. Inferring the schema
from files on every read means a ``mergeSchema`` Spark job that opens every
footer, only to rediscover a schema the sink wrote itself.

Instead each table pins its schema in ``_schema.json`` inside the state
directory (Spark's file index skips names starting with ``_``):

- **Write order.** Before each data write the pin becomes the union of the
  pinned schema and the new rows' schema, replaced atomically (temp file +
  ``os.replace``). The pin lands before the data and only grows, so a crash
  between the two leaves at worst an all-null extra column — the same
  null-extension partitions written before the column existed get.
- **Read.** ``spark.read.schema(pin).parquet(dir)``: no footer job; files
  that lack a pinned column read it as null.
- **Fallback.** A directory without a pin (written before pins existed, or
  wiped by a static overwrite that crashed before re-pinning) is inferred
  once with ``mergeSchema`` and then pinned.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

SCHEMA_FILE = "_schema.json"


def _union(pinned: StructType | None, new: StructType) -> StructType:
    """Pinned columns in pinned order, then the new ones. A column present
    in both takes the new rows' type: they were merged with the pinned state
    upstream, so their type is the widened one."""
    new_by_name = {f.name: f for f in new.fields}
    fields = [new_by_name.get(f.name, f) for f in pinned.fields] if pinned else []
    names = {f.name for f in fields}
    fields += [f for f in new.fields if f.name not in names]
    return StructType([StructField(f.name, f.dataType, True, f.metadata) for f in fields])


class StateTable:
    """A Parquet directory partitioned by ``partition_col`` whose schema is
    pinned in ``_schema.json``."""

    def __init__(self, spark: SparkSession, path: str, partition_col: str = "bucket"):
        self.spark = spark
        self.path = path
        self.partition_col = partition_col
        self._pin_path = os.path.join(path, SCHEMA_FILE)

    def pinned_schema(self) -> StructType | None:
        """The pinned schema, partition column included; None if unpinned."""
        try:
            with open(self._pin_path) as f:
                return StructType.fromJson(json.load(f))
        except FileNotFoundError:
            return None

    def pin(self, schema: StructType) -> None:
        """Widen the pin to cover ``schema`` (atomic replace)."""
        pinned = self.pinned_schema()
        merged = _union(pinned, schema)
        if merged == pinned:
            return
        os.makedirs(self.path, exist_ok=True)
        tmp = f"{self._pin_path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(merged.json())
        os.replace(tmp, self._pin_path)

    def read(self) -> DataFrame | None:
        """The table under its pinned schema; None while no partition exists."""
        prefix = f"{self.partition_col}="
        if not os.path.isdir(self.path) or not any(
            name.startswith(prefix) for name in os.listdir(self.path)
        ):
            return None
        schema = self.pinned_schema()
        if schema is not None:
            return self.spark.read.schema(schema).parquet(self.path)
        df = self.spark.read.option("mergeSchema", "true").parquet(self.path)
        self.pin(df.schema)
        return df

    def overwrite(self, df: DataFrame) -> None:
        """Replace the partitions present in ``df`` (dynamic overwrite: it
        commits after the job, so ``df`` may lazily read this table). The
        mode is a per-write option, not the session conf, so unrelated
        writes in the application keep their overwrite semantics."""
        self.pin(df.schema)
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(self.partition_col)
            .parquet(self.path)
        )

    def replace(self, df: DataFrame) -> None:
        """Replace the whole table. A static overwrite deletes the directory,
        pin included, before its job runs, so ``df`` must already be
        materialized elsewhere; the pin is rewritten after the data."""
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy(self.partition_col)
            .parquet(self.path)
        )
        self.pin(df.schema)
