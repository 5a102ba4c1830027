"""Parts-based sinks: exactly-once via deterministic part overwrite +
atomic manifest compaction — every crash/replay interleaving converges.
The crash matrix runs over both sinks on the shared parts log."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from python_cdc_postgres_to_clickhouse_spark.streaming.parts_log import PartsLog
from python_cdc_postgres_to_clickhouse_spark.streaming.parts_rollup import PartedRollupSink
from python_cdc_postgres_to_clickhouse_spark.tables import load_tables

from . import test_ann_sink as ann
from .conftest import SF_ORACLE


def _events(spark):
    return load_tables(spark, SF_ORACLE)["events"].select("ts", "event_type", "value")


def _expected(events):
    return {
        (r["bucket"], r["event_type"]): (r["n"], r["s"])
        for r in events.withColumn("bucket", F.date_trunc("hour", "ts"))
        .groupBy("bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
        )
        .collect()
    }


def _served(sink):
    df = sink.serve()
    assert df is not None
    return {
        (r["bucket"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in df.collect()
    }


def _chunks(events, n):
    rows = events.count()
    step = (rows + n - 1) // n
    # Deterministic chunking on event order via a stable sort key.
    ordered = events.withColumn("_rid", F.monotonically_increasing_id())
    return [
        ordered.filter(
            (F.col("_rid") >= i * step) & (F.col("_rid") < (i + 1) * step)
        ).drop("_rid")
        for i in range(n)
    ]


def test_streaming_matches_batch(spark, tmp_path):
    events = _events(spark)
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
    assert len(sink.log.part_ids()) >= 2, "expected multiple micro-batch parts"
    assert _served(sink) == _expected(events)
    # Compaction folds every part into base_v0 and serve is unchanged.
    sink.compact()
    assert sink.log.part_ids() == []
    assert sink.log.manifest()[0] == 0
    assert _served(sink) == _expected(events)


def test_replay_is_idempotent_before_and_after_compaction(spark, tmp_path):
    events = _events(spark)
    chunks = _chunks(events, 4)
    sink = PartedRollupSink(spark, str(tmp_path / "rollup"))
    for i, c in enumerate(chunks):
        sink.process_batch(c, i)
    exp = _expected(events)
    assert _served(sink) == exp
    # Replay every batch (crash before ANY offset commit): byte-identical
    # part overwrites, serve unchanged.
    for i, c in enumerate(chunks):
        sink.process_batch(c, i)
    assert _served(sink) == exp
    # Compact through batch 2, then replay batches 1..3: 1 and 2 are below
    # the watermark (skipped — already in base), 3 rewrites its live part.
    sink.compact(through_batch_id=2)
    for i in (1, 2, 3):
        sink.process_batch(chunks[i], i)
    assert sink.log.part_ids() == [3]
    assert _served(sink) == exp
    sink.compact()
    assert _served(sink) == exp


def test_replace_base_never_moves_the_watermark_back(tmp_path):
    """A rebuild committed after every part was folded and swept keeps the
    watermark: replays of the folded batches must still be skipped."""
    log = PartsLog(str(tmp_path / "log"))
    os.makedirs(log.part_dir(0))
    log.compact(lambda ids, base: os.makedirs(base))
    assert log.manifest() == (0, 0) and log.part_ids() == []
    log.replace_base(os.makedirs)
    assert log.manifest() == (1, 0)
    assert log.is_folded(0)


# -- crash matrix over both parts-log sinks ---------------------------------


class _Crash(RuntimeError):
    pass


def _crash(*_args, **_kwargs):
    raise _Crash


def _rollup_case(spark):
    events = _events(spark)

    def rows(sink):
        return sorted(
            (r["bucket"], r["event_type"], r["n_events"], r["sum_value"])
            for r in sink.serve().collect()
        )

    return (
        lambda path: PartedRollupSink(spark, str(path)),
        _chunks(events, 4),
        rows,
        lambda rs: sum(r[2] for r in rs),
        events.count(),
    )


def _ann_case(spark):
    model = ann._model(spark)
    emb = ann._emb(spark)

    def rows(sink):
        return sorted(
            (r["vec_id"], r["model_version"], r["cell"], tuple(r["codes"]))
            for r in sink.serve().collect()
        )

    return (
        lambda path: ann._sink(spark, path, "idx", model=model),
        ann._chunks(emb, 4),
        rows,
        len,
        emb.count(),
    )


_CASES = {"rollup": _rollup_case, "ann_index": _ann_case}


@pytest.fixture(params=sorted(_CASES))
def case(request, spark):
    """(make_sink(dir), 4 input chunks, served rows of a sink, rows → input
    rows they count, total input rows)."""
    return _CASES[request.param](spark)


def test_crash_during_compaction_base_write_recovers(case, tmp_path, monkeypatch):
    """Crash after the new base is written but before the manifest commits:
    serve still reads the old view and ignores the orphan base; re-running
    compact() converges on the uncrashed run."""
    make, chunks, rows, counted, total = case
    ref, sink = make(tmp_path / "ref"), make(tmp_path / "crash")
    for s in (ref, sink):
        for i in range(3):
            s.process_batch(chunks[i], i)
    ref.compact()
    with monkeypatch.context() as m:
        m.setattr(PartsLog, "commit", _crash)
        with pytest.raises(_Crash):
            sink.compact()
    assert os.path.isdir(sink.log.base_dir(0))  # the orphan base
    assert sink.log.manifest() == (-1, -1)
    assert rows(sink) == rows(ref)
    sink.compact()
    assert sink.log.manifest() == ref.log.manifest()
    assert sink.log.part_ids() == []
    assert rows(sink) == rows(ref)
    assert counted(rows(sink)) == total - chunks[3].count()


def test_crash_after_manifest_before_gc_recovers(case, tmp_path, monkeypatch):
    """Manifest committed but garbage not collected: the folded part and the
    old base version are ignored; the next compact sweeps them, and every
    batch is counted once."""
    make, chunks, rows, counted, total = case
    ref, sink = make(tmp_path / "ref"), make(tmp_path / "crash")
    for s in (ref, sink):
        for i in range(3):
            s.process_batch(chunks[i], i)
        s.compact()  # base_v0, watermark 2
        s.process_batch(chunks[3], 3)
    ref.compact()
    with monkeypatch.context() as m:
        m.setattr(PartsLog, "gc", _crash)
        with pytest.raises(_Crash):
            sink.compact()
    assert sink.log.manifest() == ref.log.manifest()
    assert os.path.isdir(sink.log.base_dir(0))  # garbage present...
    assert 3 in sink.log.part_ids()
    assert rows(sink) == rows(ref)  # ...and ignored
    sink.compact()  # sweep
    assert not os.path.isdir(sink.log.base_dir(0))
    assert sink.log.part_ids() == []
    assert rows(sink) == rows(ref)
    assert counted(rows(sink)) == total
