"""Pinned state schema (streaming/state_table.py) under the bucketed state
sinks: a column added mid-stream reads as null for old rows, through the
writing sink and a fresh one; an unpinned state is inferred once and then
pinned; compaction leaves a valid pin; a crash between the pin and the data
write heals on replay. Also: each sink evaluates its micro-batch once."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from python_cdc_postgres_to_clickhouse_spark.sources.cdc import (
    ChangeLogFixture,
    changelog_df,
    generate_changelog,
    unwrap,
)
from python_cdc_postgres_to_clickhouse_spark.streaming.join_view import JoinViewSink
from python_cdc_postgres_to_clickhouse_spark.streaming.retract_rollup import (
    RetractRollupSink,
)
from python_cdc_postgres_to_clickhouse_spark.streaming.scd2_sink import Scd2HistorySink
from python_cdc_postgres_to_clickhouse_spark.streaming.state_table import (
    SCHEMA_FILE,
    StateTable,
)
from python_cdc_postgres_to_clickhouse_spark.streaming.upsert_sink import (
    ParquetUpsertSink,
)

N_JOIN_KEYS = 4
R_SCHEMA = "rid: long, k: long, rval: string, op: string, source_lsn: long, kafka_offset: long"


# -- one adapter per sink: build, apply a batch of flat change rows, serve --


class _Upsert:
    n_writes = 1

    def make(self, spark, d):
        return ParquetUpsertSink(spark, d, n_buckets=8)

    def tables(self, sink):
        return [sink.table]

    def apply(self, spark, sink, flat, batch_id):
        sink.process_batch(flat, batch_id)

    def served(self, sink):
        return sink.current_state()

    def compact(self, sink):
        sink.compact(tombstone_horizon_lsn=10**12)


class _Scd2(_Upsert):
    def make(self, spark, d):
        return Scd2HistorySink(spark, d, n_buckets=8)

    def served(self, sink):
        return sink.current()

    def compact(self, sink):
        sink.compact(closed_before_ms=2**62)


class _JoinView(_Upsert):
    """Left side = the change rows with join key ``k = id % 4``; the right
    side holds one row per join key, so each live left row is one view row."""

    n_writes = 3  # view, left state, right state

    def make(self, spark, d):
        return JoinViewSink(spark, d, join_key="k", n_buckets=8)

    def tables(self, sink):
        return [sink.view_state, sink.left_state, sink.right_state]

    def apply(self, spark, sink, flat, batch_id):
        right = spark.createDataFrame(
            [(k, k, f"r{k}", "c", 0, k) for k in range(N_JOIN_KEYS)]
            if batch_id == 0
            else [],
            R_SCHEMA,
        )
        left = flat.withColumn("k", F.col("id") % N_JOIN_KEYS)
        sink.process_batch(left, right, batch_id)

    def served(self, sink):
        return sink.view()


SINKS = {"upsert": _Upsert(), "scd2": _Scd2(), "join_view": _JoinView()}


def _rows(spark, rows, extra: bool):
    """Flat change rows (id, username, op, source_lsn, kafka_offset, ts_ms),
    plus ``extra`` when the batch carries the column added mid-stream."""
    cols = "id: long, username: string, op: string, source_lsn: long, kafka_offset: long, ts_ms: long"
    if extra:
        cols += ", extra: string"
    return spark.createDataFrame(
        [
            (i, name, op, lsn, lsn, 1_000 * lsn) + ((f"x{i}",) if extra else ())
            for i, name, op, lsn in rows
        ],
        cols,
    )


B0 = [(i, f"a{i}", "c", 10 + i) for i in range(6)]
B1 = [(1, "b1", "u", 20), (2, None, "d", 21), (6, "b6", "c", 22)]
EXPECTED = {0: ("a0", None), 1: ("b1", "x1"), 3: ("a3", None), 4: ("a4", None),
            5: ("a5", None), 6: ("b6", "x6")}


def _served(adapter, sink):
    df = adapter.served(sink)
    return {r["id"]: (r["username"], r["extra"]) for r in df.collect()}


def _two_batches(spark, adapter, d):
    sink = adapter.make(spark, d)
    adapter.apply(spark, sink, _rows(spark, B0, extra=False), 0)
    adapter.apply(spark, sink, _rows(spark, B1, extra=True), 1)
    return sink


def _data_files(table: StateTable):
    return glob.glob(os.path.join(table.path, "*=*", "*.parquet"))


def _pin_names(table: StateTable):
    return table.pinned_schema().fieldNames()


def _assert_pin_covers_files(spark, table: StateTable):
    """The pin names exactly the columns (and types) the files hold."""
    inferred = spark.read.option("mergeSchema", "true").parquet(table.path).schema
    pinned = table.pinned_schema()
    assert {f.name: f.dataType for f in pinned} == {f.name: f.dataType for f in inferred}


@pytest.mark.parametrize("kind", list(SINKS))
def test_added_column_reads_null_for_old_rows(spark, tmp_path, kind):
    adapter = SINKS[kind]
    d = str(tmp_path / kind)
    sink = _two_batches(spark, adapter, d)
    # Some partition untouched by the second batch predates the column, so
    # only the pin (not the files a single footer shows) carries it.
    first = adapter.tables(sink)[0]
    assert any("extra" not in pq.read_schema(f).names for f in _data_files(first))
    assert "extra" in _pin_names(first)
    assert _served(adapter, sink) == EXPECTED
    assert _served(adapter, adapter.make(spark, d)) == EXPECTED


@pytest.mark.parametrize("kind", list(SINKS))
def test_unpinned_state_is_inferred_once_then_pinned(spark, tmp_path, kind):
    adapter = SINKS[kind]
    d = str(tmp_path / kind)
    sink = _two_batches(spark, adapter, d)
    tables = adapter.tables(sink)
    for t in tables:
        os.remove(os.path.join(t.path, SCHEMA_FILE))
    fresh = adapter.make(spark, d)
    assert _served(adapter, fresh) == EXPECTED
    # The serving read pinned the table it read; a batch pins the rest.
    assert "extra" in _pin_names(adapter.tables(fresh)[0])
    adapter.apply(spark, fresh, _rows(spark, [(7, "c7", "c", 30)], extra=False), 2)
    for t in adapter.tables(fresh):
        _assert_pin_covers_files(spark, t)
    assert _served(adapter, fresh) == {**EXPECTED, 7: ("c7", None)}


@pytest.mark.parametrize("kind", ["upsert", "scd2"])
def test_compact_leaves_valid_pin(spark, tmp_path, kind):
    adapter = SINKS[kind]
    d = str(tmp_path / kind)
    sink = _two_batches(spark, adapter, d)
    adapter.compact(sink)
    _assert_pin_covers_files(spark, adapter.tables(sink)[0])
    assert _served(adapter, adapter.make(spark, d)) == EXPECTED


def _flat_chunks(spark, fx, n):
    step = (len(fx.events) + n - 1) // n
    return [
        unwrap(changelog_df(spark, ChangeLogFixture(events=fx.events[i : i + step])),
               keep_deletes=True)
        for i in range(0, len(fx.events), step)
    ]


class _Crash(Exception):
    pass


@pytest.mark.parametrize(
    "kind,crash_at",
    [(k, i) for k, a in SINKS.items() for i in range(a.n_writes)],
)
def test_crash_between_pin_and_data_write_heals_on_replay(
    spark, tmp_path, monkeypatch, kind, crash_at
):
    """Raise after the crash batch's ``crash_at``-th pin, before its data
    write. The batch adds a column, so the pin is ahead of the data; reads
    in between see the column as null, and replaying the same batch id
    converges on the replay oracle."""
    adapter = SINKS[kind]
    fx = generate_changelog(n_keys=12, n_ops=80, seed=17, dup_rate=0.2)
    chunks = _flat_chunks(spark, fx, 3)
    chunks[1] = chunks[1].withColumn("extra", F.concat(F.lit("x"), "username"))
    sink = adapter.make(spark, str(tmp_path / kind))
    adapter.apply(spark, sink, chunks[0], 0)
    before = {r["id"]: r["username"] for r in adapter.served(sink).collect()}

    real_pin = StateTable.pin
    calls = []

    def crashing_pin(self, schema):
        real_pin(self, schema)
        calls.append(self.path)
        if len(calls) == crash_at + 1:
            raise _Crash

    monkeypatch.setattr(StateTable, "pin", crashing_pin)
    with pytest.raises(_Crash):
        adapter.apply(spark, sink, chunks[1], 1)
    monkeypatch.setattr(StateTable, "pin", real_pin)

    torn = adapter.served(sink).collect()
    assert "extra" in adapter.served(sink).columns
    if crash_at == 0:  # nothing but the pin landed
        assert {r["id"]: r["username"] for r in torn} == before
        assert all(r["extra"] is None for r in torn)

    adapter.apply(spark, sink, chunks[1], 1)
    adapter.apply(spark, sink, chunks[2], 2)
    got = {r["id"]: r["username"] for r in adapter.served(sink).collect()}
    assert got == {k: v["username"] for k, v in fx.expected_final.items()}


# -- single evaluation of the micro-batch ----------------------------------


def _counted(spark, df):
    """``df`` with every row passed through a Python UDF that counts its
    evaluations in an accumulator."""
    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def seen(x):
        acc.add(1)
        return x

    return df.withColumn("id", seen("id")), acc


@pytest.mark.parametrize("kind", ["upsert", "retract_rollup", "scd2"])
def test_process_batch_evaluates_the_batch_once(spark, tmp_path, kind):
    fx = generate_changelog(n_keys=10, n_ops=40, seed=5)
    flat = unwrap(changelog_df(spark, fx), keep_deletes=True)
    n = flat.count()
    batch, acc = _counted(spark, flat)
    state = str(tmp_path / "state")
    if kind == "upsert":
        sink = ParquetUpsertSink(spark, state, n_buckets=4)
        served = sink.current_state
    elif kind == "retract_rollup":
        sink = RetractRollupSink(
            spark, state, str(tmp_path / "rollup"),
            group_expr="length(username)", metric_expr="created_at_us", n_buckets=4,
        )
        served = sink.current_state
    else:
        sink = Scd2HistorySink(spark, state, n_buckets=4)
        served = sink.current
    sink.process_batch(batch, 0)
    assert acc.value == n
    got = {r["id"]: r["username"] for r in served().collect()}
    assert got == {k: v["username"] for k, v in fx.expected_final.items()}
