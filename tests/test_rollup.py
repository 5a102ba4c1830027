"""Incremental rollup maintenance (the parts-based rollup sink): streaming
merge equals batch recompute; dead-letter splitting."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_cdc_postgres_to_clickhouse_spark.pipelines import split_dead_letters
from python_cdc_postgres_to_clickhouse_spark.sources.avro import (
    decode_users,
    encode_user_record,
    frame_confluent,
)
from python_cdc_postgres_to_clickhouse_spark.streaming.parts_rollup import PartedRollupSink
from python_cdc_postgres_to_clickhouse_spark.tables import load_tables

from .conftest import SF_ORACLE


def test_rollup_incremental_equals_batch(spark, tmp_path):
    t = load_tables(spark, SF_ORACLE)
    events = t["events"].select("ts", "event_type", "value")
    src = str(tmp_path / "ev")
    events.repartition(6).write.parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    sink = PartedRollupSink(spark, str(tmp_path / "rollup"))
    q = sink.attach(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    served = {
        (r["bucket"], r["event_type"]): (r["n_events"], r["sum_value"], r["avg_value"])
        for r in sink.serve().collect()
    }
    batch = {
        (r["bucket"], r["event_type"]): (r["n"], r["s"], r["a"])
        for r in events.withColumn("bucket", F.date_trunc("hour", "ts"))
        .groupBy("bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
            (
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("a"),
        )
        .collect()
    }
    assert served == batch
    # The micro-batch parts' rows were merged at read, not appended.
    assert len(served) == len(batch)


def test_rollup_second_stream_merges(spark, tmp_path):
    """New data arriving later merges additively into existing buckets."""
    t = load_tables(spark, SF_ORACLE)
    events = t["events"].select("ts", "event_type", "value")
    first = events.filter(F.col("event_id").isNotNull()) if "event_id" in events.columns else events
    half1 = events.limit(5000)
    src = str(tmp_path / "ev")
    half1.coalesce(2).write.parquet(src)
    sink = PartedRollupSink(spark, str(tmp_path / "rollup"))
    stream = lambda: (  # noqa: E731
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    q1 = sink.attach(stream(), checkpoint_dir=str(tmp_path / "ckpt"))
    q1.awaitTermination(120)
    # Append the remaining rows as new files; restart from checkpoint.
    events.subtract(half1).coalesce(2).write.mode("append").parquet(src)
    q2 = sink.attach(stream(), checkpoint_dir=str(tmp_path / "ckpt"))
    q2.awaitTermination(120)

    total_served = sum(r["n_events"] for r in sink.serve().collect())
    assert total_served == events.count()


def test_split_dead_letters(spark):
    good_payload = frame_confluent(encode_user_record(1, "ok", "ok@x", None), 7)
    bad_payload = b"\x00\x00\x00\x00\x07\xff"
    df = spark.createDataFrame(
        [("a", bytearray(good_payload)), ("b", bytearray(bad_payload))],
        "key string, value binary",
    )
    decoded = decode_users(df, framing="confluent")
    good, dead = split_dead_letters(decoded)
    assert good.count() == 1 and dead.count() == 1
    assert good.first()["username"] == "ok"
    assert dead.first()["key"] == "b"  # original payload retained for quarantine
