"""Incremental materialized join view (streaming/join_view.py): python
replay parity for arbitrary two-sided op sequences, replay idempotence,
the join-key MOVE case, the all-pairs-gone sentinel path, and the
streaming leg."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from python_cdc_postgres_to_clickhouse_spark.streaming.join_view import JoinViewSink

L_SCHEMA = "id: long, k: long, lval: string, op: string, source_lsn: long, kafka_offset: long"
R_SCHEMA = "rid: long, k: long, rval: string, op: string, source_lsn: long, kafka_offset: long"


def _gen_ops(seed: int, n: int, n_ids: int, n_keys: int, id_col: str):
    rng = random.Random(seed)
    ops = []
    for lsn in range(n):
        pk = rng.randrange(n_ids)
        op = rng.choices(["c", "u", "d"], weights=[3, 4, 1])[0]
        ops.append(
            {
                id_col: pk,
                "k": rng.randrange(n_keys),
                "val": f"v{lsn}",
                "op": op,
                "source_lsn": lsn,
                "kafka_offset": lsn,
            }
        )
    return ops


def _py_state(ops, id_col):
    state = {}
    for o in sorted(ops, key=lambda o: (o["source_lsn"], o["kafka_offset"])):
        state[o[id_col]] = o
    return {pk: o for pk, o in state.items() if o["op"] != "d"}


def _py_view(l_ops, r_ops):
    l = _py_state(l_ops, "id")
    r = _py_state(r_ops, "rid")
    pairs = set()
    for lo in l.values():
        for ro in r.values():
            if lo["k"] == ro["k"]:
                pairs.add((lo["id"], lo["val"], ro["rid"], ro["val"], lo["k"]))
    return pairs


def _sink_view(sink):
    v = sink.view()
    if v is None:
        return set()
    return {
        (r["id"], r["lval"], r["rid"], r["rval"], r["k"]) for r in v.collect()
    }


def _mk(spark, tmp_path, **kw):
    return JoinViewSink(
        spark,
        str(tmp_path / "jv"),
        join_key="k",
        left_keys=("id",),
        right_keys=("rid",),
        n_buckets=8,
        **kw,
    )


def _ldf(spark, ops):
    rows = [
        (o["id"], o["k"], o["val"], o["op"], o["source_lsn"], o["kafka_offset"])
        for o in ops
    ]
    return spark.createDataFrame(rows, L_SCHEMA)


def _rdf(spark, ops):
    rows = [
        (o["rid"], o["k"], o["val"], o["op"], o["source_lsn"], o["kafka_offset"])
        for o in ops
    ]
    return spark.createDataFrame(rows, R_SCHEMA)


@pytest.mark.parametrize("seed,n_chunks", [(1, 1), (2, 3), (3, 5)])
@pytest.mark.heavy
def test_join_view_matches_python_replay(spark, tmp_path, seed, n_chunks):
    l_ops = _gen_ops(seed, 60, n_ids=12, n_keys=5, id_col="id")
    r_ops = _gen_ops(seed + 100, 60, n_ids=10, n_keys=5, id_col="rid")
    sink = _mk(spark, tmp_path)
    lc = max(1, len(l_ops) // n_chunks)
    rc = max(1, len(r_ops) // n_chunks)
    for i in range(n_chunks):
        lb = l_ops[i * lc : (i + 1) * lc] if i < n_chunks - 1 else l_ops[i * lc :]
        rb = r_ops[i * rc : (i + 1) * rc] if i < n_chunks - 1 else r_ops[i * rc :]
        sink.process_batch(_ldf(spark, lb), _rdf(spark, rb), batch_id=i)
    assert _sink_view(sink) == _py_view(l_ops, r_ops)


@pytest.mark.heavy
def test_join_view_incremental_equals_full_after_each_batch(spark, tmp_path):
    l_ops = _gen_ops(7, 40, n_ids=8, n_keys=4, id_col="id")
    r_ops = _gen_ops(8, 40, n_ids=8, n_keys=4, id_col="rid")
    sink = _mk(spark, tmp_path)
    for i in range(4):
        sink.process_batch(
            _ldf(spark, l_ops[i * 10 : (i + 1) * 10]),
            _rdf(spark, r_ops[i * 10 : (i + 1) * 10]),
            batch_id=i,
        )
        assert _sink_view(sink) == _py_view(
            l_ops[: (i + 1) * 10], r_ops[: (i + 1) * 10]
        ), f"batch {i}"


@pytest.mark.heavy
def test_join_view_replay_is_noop(spark, tmp_path):
    l_ops = _gen_ops(11, 30, n_ids=6, n_keys=3, id_col="id")
    r_ops = _gen_ops(12, 30, n_ids=6, n_keys=3, id_col="rid")
    sink = _mk(spark, tmp_path)
    sink.process_batch(_ldf(spark, l_ops[:20]), _rdf(spark, r_ops[:20]), 0)
    sink.process_batch(_ldf(spark, l_ops[20:]), _rdf(spark, r_ops[20:]), 1)
    before = _sink_view(sink)
    # Crash-replay of the last batch: must be byte-identical, not just
    # set-identical — the states and view are pure functions of the set.
    sink.process_batch(_ldf(spark, l_ops[20:]), _rdf(spark, r_ops[20:]), 1)
    assert _sink_view(sink) == before == _py_view(l_ops, r_ops)


@pytest.mark.heavy
def test_join_view_move_erases_old_key_pairs(spark, tmp_path):
    """An update that CHANGES a row's join key must remove its pairs under
    the old key — the delta term a naive new-rows-only maintenance
    misses."""
    sink = _mk(spark, tmp_path)
    l0 = [{"id": 1, "k": 10, "val": "a", "op": "c", "source_lsn": 0, "kafka_offset": 0}]
    r0 = [{"rid": 5, "k": 10, "val": "x", "op": "c", "source_lsn": 0, "kafka_offset": 0}]
    sink.process_batch(_ldf(spark, l0), _rdf(spark, r0), 0)
    assert _sink_view(sink) == {(1, "a", 5, "x", 10)}
    # Move left row 1 from k=10 to k=20: pair must vanish (right stays at 10).
    l1 = [{"id": 1, "k": 20, "val": "b", "op": "u", "source_lsn": 1, "kafka_offset": 1}]
    sink.process_batch(_ldf(spark, l1), _rdf(spark, []), 1)
    assert _sink_view(sink) == set()
    # Move the right row to 20 as well: pair reappears under the new key.
    r2 = [{"rid": 5, "k": 20, "val": "y", "op": "u", "source_lsn": 2, "kafka_offset": 2}]
    sink.process_batch(_ldf(spark, []), _rdf(spark, r2), 2)
    assert _sink_view(sink) == {(1, "b", 5, "y", 20)}


@pytest.mark.heavy
def test_join_view_delete_empties_bucket_via_sentinel(spark, tmp_path):
    """Deleting the only pair of a join key leaves its view bucket EMPTY —
    the dynamic-overwrite sentinel path; without it the stale pair would
    keep being served."""
    sink = _mk(spark, tmp_path)
    l0 = [{"id": 1, "k": 7, "val": "a", "op": "c", "source_lsn": 0, "kafka_offset": 0}]
    r0 = [{"rid": 2, "k": 7, "val": "x", "op": "c", "source_lsn": 0, "kafka_offset": 0}]
    sink.process_batch(_ldf(spark, l0), _rdf(spark, r0), 0)
    assert _sink_view(sink) == {(1, "a", 2, "x", 7)}
    l1 = [{"id": 1, "k": 7, "val": "a", "op": "d", "source_lsn": 1, "kafka_offset": 1}]
    sink.process_batch(_ldf(spark, l1), _rdf(spark, []), 1)
    assert _sink_view(sink) == set()


@pytest.mark.heavy
def test_join_view_streaming_leg(spark, tmp_path):
    """Tagged union stream drives both sides through attach()."""
    l_ops = _gen_ops(21, 30, n_ids=6, n_keys=4, id_col="id")
    r_ops = _gen_ops(22, 30, n_ids=6, n_keys=4, id_col="rid")
    src = tmp_path / "src"
    os.makedirs(src)
    # One tagged frame per "poll": generic columns so both sides share a
    # schema; pk column carries id/rid depending on side.
    tagged = "pk long, k long, val string, op string, source_lsn long, kafka_offset long, _side string"
    rows = [
        (o["id"], o["k"], o["val"], o["op"], o["source_lsn"], o["kafka_offset"], "l")
        for o in l_ops
    ] + [
        (o["rid"], o["k"], o["val"], o["op"], o["source_lsn"], o["kafka_offset"], "r")
        for o in r_ops
    ]
    rows.sort(key=lambda t: (t[4], t[6]))
    for i in range(3):
        spark.createDataFrame(rows[i * 20 : (i + 1) * 20], tagged).coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / f"batch_{i:05d}.parquet"))

    sink = JoinViewSink(
        spark,
        str(tmp_path / "jv"),
        join_key="k",
        left_keys=("pk",),
        right_keys=("pk",),
        n_buckets=8,
    )
    stream = (
        spark.readStream.schema(tagged)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*.parquet"))
    )
    q = sink.attach(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    want = {
        (lo["pk"], lo["val"], ro["pk"], ro["val"], lo["k"])
        for lo in _py_state(
            [dict(pk=o["id"], **{k: o[k] for k in ("k", "val", "op", "source_lsn", "kafka_offset")}) for o in l_ops],
            "pk",
        ).values()
        for ro in _py_state(
            [dict(pk=o["rid"], **{k: o[k] for k in ("k", "val", "op", "source_lsn", "kafka_offset")}) for o in r_ops],
            "pk",
        ).values()
        if lo["k"] == ro["k"]
    }
    v = sink.view()
    got = {
        (r["pk"], r["val"], r["r_pk"], r["r_val"], r["k"]) for r in v.collect()
    }
    assert got == want


def test_join_view_keeps_unaffected_keys_sharing_a_view_bucket(spark, tmp_path):
    """A batch touching one join key rebuilds its whole view bucket: the
    pairs of another key hashed into the same bucket must survive."""
    sink = _mk(spark, tmp_path)
    vb = {
        k: r[0]
        for k in range(4)
        for r in spark.range(1)
        .select(F.pmod(F.hash(F.lit(k).cast("long")), F.lit(sink.n_buckets)))
        .collect()
    }
    shared = [(a, b) for a in vb for b in vb if a < b and vb[a] == vb[b]]
    assert shared, "fixture needs two join keys in one view bucket"
    a, b = shared[0]
    l_ops = [
        {"id": i, "k": k, "val": f"l{i}", "op": "c", "source_lsn": i, "kafka_offset": i}
        for i, k in enumerate([a, b])
    ]
    r_ops = [
        {"rid": i, "k": k, "val": f"r{i}", "op": "c", "source_lsn": i, "kafka_offset": i}
        for i, k in enumerate([a, b])
    ]
    sink.process_batch(_ldf(spark, l_ops), _rdf(spark, r_ops), 0)
    # Only key b is affected: an update of its left row.
    upd = [{"id": 1, "k": b, "val": "l1v2", "op": "u", "source_lsn": 10, "kafka_offset": 10}]
    sink.process_batch(_ldf(spark, upd), _rdf(spark, []), 1)
    assert _sink_view(sink) == _py_view(l_ops + upd, r_ops)
