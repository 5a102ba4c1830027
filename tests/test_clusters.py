"""Connected-components clustering vs union-find ground truth; salted agg
parity; custom stateful streaming operator."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from python_cdc_postgres_to_clickhouse_spark.operators import dedup as D
from python_cdc_postgres_to_clickhouse_spark.operators.clusters import (
    connected_components,
    dedup_keep_representatives,
)
from python_cdc_postgres_to_clickhouse_spark.tables import load_tables

from .conftest import SF_ORACLE


def _union_find(edges):
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_connected_components_matches_union_find(spark):
    docs = load_tables(spark, SF_ORACLE)["documents"]
    pairs = D.jaccard_pairs(docs, threshold=0.6)
    edges = [(r["a"], r["b"]) for r in pairs.collect()]
    assert edges, "fixture should contain near-dup pairs"
    expected = _union_find(edges)
    got = {
        r["vertex"]: r["component"] for r in connected_components(pairs).collect()
    }
    assert got == expected


def test_connected_components_chain(spark, monkeypatch):
    """A path graph is the worst case for label propagation — still
    converges and labels everything with the min id. Zero the union-find
    gate so the iterative path (with the single-partition collapse) stays
    covered."""
    from python_cdc_postgres_to_clickhouse_spark.operators import clusters as C

    monkeypatch.setattr(C, "DRIVER_UNION_FIND_EDGES", 0)
    n = 30
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n)], ["a", "b"])
    got = {r["vertex"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_connected_components_wide_path(spark, monkeypatch):
    """The fully-distributed branch (no union-find, no single-partition
    collapse) must produce identical components — force it by zeroing both
    cutoffs."""
    from python_cdc_postgres_to_clickhouse_spark.operators import clusters as C

    monkeypatch.setattr(C, "SMALL_GRAPH_EDGES", 0)
    monkeypatch.setattr(C, "DRIVER_UNION_FIND_EDGES", 0)
    n = 30
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n)], ["a", "b"])
    got = {r["vertex"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_driver_and_distributed_paths_agree_on_fixture(spark, monkeypatch):
    """Ladder rungs are interchangeable: the real fixture's Jaccard pair
    graph must get the SAME labeling from driver union-find (default gate)
    and the iterative propagation loop (gate zeroed)."""
    from python_cdc_postgres_to_clickhouse_spark.operators import clusters as C

    docs = load_tables(spark, SF_ORACLE)["documents"]
    pairs = D.jaccard_pairs(docs, threshold=0.6)
    via_driver = {
        r["vertex"]: r["component"] for r in connected_components(pairs).collect()
    }
    monkeypatch.setattr(C, "DRIVER_UNION_FIND_EDGES", 0)
    via_loop = {
        r["vertex"]: r["component"] for r in connected_components(pairs).collect()
    }
    assert via_driver == via_loop and via_driver


def test_dedup_keep_representatives(spark):
    docs = load_tables(spark, SF_ORACLE)["documents"]
    pairs = D.jaccard_pairs(docs, threshold=0.6)
    kept = dedup_keep_representatives(docs, pairs)
    n_docs, n_kept = docs.count(), kept.count()
    comp = _union_find([(r["a"], r["b"]) for r in pairs.collect()])
    n_clustered, n_clusters = len(comp), len(set(comp.values()))
    assert n_kept == n_docs - (n_clustered - n_clusters)
    # Every cluster's min id survives.
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    for rep in set(comp.values()):
        assert rep in kept_ids


@pytest.mark.heavy
def test_stateful_running_user_stats(spark, tmp_path):
    """applyInPandasWithState: per-user running stats over a stream equal
    the batch aggregate at stream end."""
    from python_cdc_postgres_to_clickhouse_spark.streaming.stateful import running_user_stats

    t = load_tables(spark, SF_ORACLE)
    events = t["events"].filter(F.col("user_id") < 20).select("user_id", "ts", "value")
    src = str(tmp_path / "ev")
    events.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        running_user_stats(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("user_stats")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # Update mode emits one row per key per batch; the LAST emission per key
    # is the running total at stream end.
    out = spark.sql(
        """
        SELECT user_id, n_events, sum_value FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY n_events DESC) AS rn
          FROM user_stats) WHERE rn = 1
        """
    ).collect()
    got = {r["user_id"]: (r["n_events"], round(r["sum_value"], 6)) for r in out}
    exp = {
        r["user_id"]: (r["n"], round(r["s"], 6))
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == exp


def test_connected_components_releases_its_edge_list(spark, monkeypatch):
    """Neither path leaves the persisted edge list behind. The only new
    persistent RDDs allowed are the loop's locally checkpointed labels,
    which the context cleaner releases once unreachable. Vertex ids are
    unique to this test, so no other test's cached plan can stand in."""
    from python_cdc_postgres_to_clickhouse_spark.operators import clusters as C

    jsc = spark.sparkContext._jsc

    def persistent():
        m = jsc.getPersistentRDDs()
        return {int(k): m[k] for k in m.keySet().toArray()}

    for offset, gate in ((7_000_000, None), (8_000_000, 0)):
        if gate is not None:
            monkeypatch.setattr(C, "DRIVER_UNION_FIND_EDGES", gate)
        pairs = spark.createDataFrame(
            [(offset + i, offset + i + 1) for i in range(30)], ["a", "b"]
        )
        before = set(persistent())
        got = {r["vertex"]: r["component"] for r in connected_components(pairs).collect()}
        assert got == {offset + i: offset for i in range(31)}
        left = [
            rid
            for rid, rdd in persistent().items()
            if rid not in before and not rdd.rdd().isLocallyCheckpointed()
        ]
        assert left == [], f"gate={gate}: persisted RDDs left behind: {left}"
