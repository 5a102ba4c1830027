"""Regression tests for the round-1 self-review findings: rollup replay
idempotence, simhash blocking completeness, all-tombstone bucket
compaction, unspaced-language detection."""

from __future__ import annotations

import itertools
import os

from pyspark.sql import functions as F

from python_cdc_postgres_to_clickhouse_spark.operators import dedup as D
from python_cdc_postgres_to_clickhouse_spark.operators import textstats as TS
from python_cdc_postgres_to_clickhouse_spark.streaming.parts_rollup import PartedRollupSink
from python_cdc_postgres_to_clickhouse_spark.streaming.upsert_sink import ParquetUpsertSink
from python_cdc_postgres_to_clickhouse_spark.tables import load_tables

from .conftest import SF_ORACLE


def test_rollup_batch_replay_is_noop(spark, tmp_path):
    """foreachBatch may re-deliver a batch after crash; the additive merge
    must not double-count it."""
    t = load_tables(spark, SF_ORACLE)
    batch = t["events"].select("ts", "event_type", "value").limit(500)
    sink = PartedRollupSink(spark, str(tmp_path / "rollup"))
    sink.process_batch(batch, batch_id=0)
    total1 = sink.serve().agg(F.sum("n_events")).first()[0]
    sink.process_batch(batch, batch_id=0)  # replay of the SAME batch id
    total2 = sink.serve().agg(F.sum("n_events")).first()[0]
    assert total1 == total2 == 500
    sink.process_batch(batch, batch_id=1)  # a genuinely new batch merges
    assert sink.serve().agg(F.sum("n_events")).first()[0] == 1000


def test_simhash_blocking_is_complete_for_max_hamming(spark):
    """Every signature pair within the Hamming radius must surface as a
    candidate — compare against brute-force over all signature pairs."""
    docs = load_tables(spark, SF_ORACLE)["documents"].limit(120)
    sigs = {
        r["doc"]: r["sh"]
        for r in docs.select(
            F.col("doc_id").alias("doc"), D.simhash(n_bits=16).alias("sh")
        ).collect()
    }
    for max_h in (1, 3):
        got = {
            (r["a"], r["b"])
            for r in D.simhash_near_duplicates(
                docs, max_hamming=max_h
            ).collect()
        }
        expected = {
            (a, b)
            for a, b in itertools.combinations(sorted(sigs), 2)
            if bin(sigs[a] ^ sigs[b]).count("1") <= max_h
        }
        assert got == expected, f"max_hamming={max_h}: blocking dropped pairs"


def test_compact_removes_all_tombstone_buckets(spark, tmp_path):
    """A bucket whose rows are all expired tombstones must disappear."""
    sink = ParquetUpsertSink(spark, str(tmp_path / "state"), n_buckets=4)
    rows = [
        # live row and tombstone landing in (hash-dependent) buckets
        (i, f"u{i}", "d" if i % 2 else "c", 100 + i, i)
        for i in range(16)
    ]
    batch = spark.createDataFrame(
        rows, ["id", "username", "op", "source_lsn", "kafka_offset"]
    )
    sink.process_batch(batch, 0)
    raw = spark.read.parquet(str(tmp_path / "state"))
    assert raw.filter(F.col("op") == "d").count() == 8
    live_before = {r["id"] for r in sink.current_state().collect()}
    sink.compact(tombstone_horizon_lsn=10**9)  # all tombstones expired
    raw2 = spark.read.option("mergeSchema", "true").parquet(str(tmp_path / "state"))
    assert raw2.filter(F.col("op") == "d").count() == 0
    assert {r["id"] for r in sink.current_state().collect()} == live_before
    # No bucket directory contains only stale files (static overwrite wiped).
    bucket_dirs = [
        d for d in os.listdir(str(tmp_path / "state")) if d.startswith("bucket=")
    ]
    total_rows = raw2.count()
    assert total_rows == len(live_before)
    assert len(bucket_dirs) >= 1


def test_lang_id_detects_unspaced_chinese(spark):
    df = spark.createDataFrame(
        [(1, "我有的数据是在表里和不同的值"), (2, "the data and the value of a row")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["p"] for r in df.select("doc_id", TS.predict_lang().alias("p")).collect()}
    assert got == {1: "zh", 2: "en"}


def test_token_diversity_domain_includes_empty_docs_on_both_sides(
    spark, tmp_path
):
    """ADVICE r8 flagged a latent empty-doc domain mismatch in
    x_token_diversity; empirically BOTH engines tokenize '' to the single
    empty-string token (split/string_split each return ['']), so both
    sides emit every document — n_tokens = 1, simpson = 1.0 for empty or
    whitespace-only text. Pin that agreement on a frame that contains
    the edge (the driver fixtures don't)."""
    import pandas as pd

    from python_cdc_postgres_to_clickhouse_spark.registry import all_queries
    from .conftest import SF_SMOKE
    from .oracle_harness import assert_parity

    sf_dir = tmp_path / "tokdiv"
    sf_dir.mkdir()
    pd.DataFrame(
        {
            "doc_id": pd.array([1, 2, 3, 4], dtype="int64"),
            "text": ["the quick brown fox the", "", "   \t  ", "solo"],
            "lang": ["en"] * 4,
            "source": ["web"] * 4,
            "n_chars": pd.array([23, 0, 6, 4], dtype="int64"),
        }
    ).to_parquet(sf_dir / "documents.parquet")
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "embeddings",
    ]:
        (sf_dir / f"{t}.parquet").symlink_to(f"{SF_SMOKE}/{t}.parquet")
    spec = all_queries()["x_token_diversity"]
    got = spec.fn(spark, str(sf_dir)).collect()
    assert {r["doc_id"] for r in got} == {1, 2, 3, 4}
    by_id = {r["doc_id"]: r for r in got}
    assert by_id[1]["n_tokens"] == 5 and by_id[1]["collision_mass"] == 7
    assert by_id[2]["n_tokens"] == 1 and by_id[2]["simpson"] == 1.0
    assert by_id[3]["n_tokens"] == 1 and by_id[3]["simpson"] == 1.0
    assert_parity(spark, spec, str(sf_dir))
