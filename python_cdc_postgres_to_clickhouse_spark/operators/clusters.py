"""Duplicate-cluster resolution: connected components over near-dup pairs.

Pairwise near-dup detection (operators/dedup.py) yields edges; production
dedup needs *clusters* — if A≈B and B≈C, {A,B,C} keep one representative.
That is connected components, an inherently iterative computation outside
single-pass SQL (the driver records rows-only checks for such ops).

Algorithm ladder, gated by edge count (each rung's output is identical —
component id = min vertex id — and the rungs are equality-tested against
each other):

1. ≤ DRIVER_UNION_FIND_EDGES: driver-side union-find. The pair graph after
   near-dup candidate generation is a sliver of the corpus; a bounded
   collect + one in-memory pass beats O(log d) rounds of scheduled jobs
   by ~2 s at fixture scale.
2. Larger: min-label propagation + pointer jumping. Each round every
   vertex takes min(own label, neighbors' labels) — and then jumps:
   label ← label-of-label, which halves label-chain depth (path halving).
   The combination converges in O(log d) rounds for diameter d (plain
   propagation alone needs d rounds — a 30-vertex path graph took 30 slow
   rounds before the jump step existed). Each round is two shuffles;
   ``localCheckpoint`` truncates the growing lineage every round (without
   it, planning cost compounds per iteration). At 100 TB edge scale this
   is the standard Spark pattern (GraphFrames' connectedComponents adds
   more engineering on top). Graphs under SMALL_GRAPH_EDGES additionally
   collapse to one partition for the loop (scheduling, not data, is the
   per-round cost there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Below this many (directed) edges the component graph runs single-partition:
# iteration cost is scheduling overhead, not data (see connected_components).
SMALL_GRAPH_EDGES = 200_000

# At or below this many (directed, deduplicated) edges the components are
# solved with driver-side union-find instead of the iterative loop: a near-dup
# pair graph is a sliver of the corpus, ≤200k edges is a few MB in driver
# memory, and union-find finishes in microseconds where each propagation
# round costs ~5 scheduled jobs (measured: the fixture's 256-edge graph spent
# ~2.5 s on loop scheduling alone). Larger graphs take the distributed loop —
# the gate bounds driver memory by a constant, like every other
# batch-bounded collect in this repo.
DRIVER_UNION_FIND_EDGES = 200_000


def _driver_union_find(edge_rows: list):
    """Min-root union-find over a bounded edge list (path compression +
    attach-max-root-to-min, so every root is its component's minimum id —
    identical labeling to the propagation fixpoint)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in edge_rows:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return [(v, find(v)) for v in parent]


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iterations: int = 20,
) -> DataFrame:
    """(vertex, component) for every vertex in the pair graph; the
    component id is the minimum vertex id of the component.

    ``pairs`` is an edge list (undirected; duplicates fine). Iterates
    min-label propagation to fixpoint, bounded by ``max_iterations``
    (raises if not converged — real dedup graphs converge in ≤ log₂(max
    component diameter) rounds).
    """
    # Both edge directions via ONE explode, not a union of two selects: a
    # union duplicates the upstream pair-producing subtree (for Jaccard
    # pairs that's the whole postings join, executed twice inside the
    # checkpoint job — measured 3.5 s vs 1.9 s at sf0.1).
    #
    # Materialized with persist + count, not localCheckpoint (round 14):
    # the edge list is consumed by 2–3 actions (the gate count, the
    # union-find collect or the loop joins), and persist serves that with
    # RECOVERABLE lineage — losing an executor recomputes the lost
    # partitions instead of failing the job, the caveat the repo's
    # remaining localCheckpoint sites document (operators/packing.py,
    # where lineage truncation is load-bearing for cross-job layout
    # consistency; here the edge set is layout-independent). Lineage
    # truncation for the ITERATIVE path is still handled by the per-round
    # labels checkpoint below.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(a_col).alias("u"), F.col(b_col).alias("v")),
                    F.struct(F.col(b_col).alias("u"), F.col(a_col).alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
        .persist()
    )
    # Size-adaptive parallelism: after near-dup candidate generation the
    # pair graph is usually a sliver of the corpus, and the loop's cost
    # becomes per-iteration FIXED overhead (full-width joins + checkpoint
    # jobs over near-empty partitions), not data. Collapsing a small edge
    # list to one partition makes every iteration a 1-task job chain
    # (measured ~4s → ~1s on a 256-edge graph at sf0.1); big graphs keep
    # full parallelism. This count materializes the persisted edges.
    n_edges = edges.count()
    try:
        if n_edges <= DRIVER_UNION_FIND_EDGES:
            # Solve on the driver: the edge list is persisted and bounded,
            # so this collect is a constant-size transfer (same bound the
            # coalesce ladder below uses) and replaces O(log d) rounds of
            # ~5 jobs each with one in-memory pass. Output labeling is
            # identical (component = min vertex id) — asserted against the
            # distributed path in tests.
            utype = edges.schema["u"].dataType
            labeled = _driver_union_find([(r["u"], r["v"]) for r in edges.collect()])
            schema = T.StructType(
                [T.StructField("vertex", utype), T.StructField("component", utype)]
            )
            return edges.sparkSession.createDataFrame(labeled, schema)
        return _propagate_labels(
            edges.coalesce(1) if n_edges <= SMALL_GRAPH_EDGES else edges,
            max_iterations,
        )
    finally:
        # Both paths are done with the edge list: the driver path holds its
        # labels locally, the loop returns localCheckpointed labels.
        edges.unpersist()


def _propagate_labels(edges: DataFrame, max_iterations: int) -> DataFrame:
    """Min-label propagation + pointer jumping to fixpoint over (u, v)."""
    labels = (
        edges.select(F.col("u").alias("vertex"))
        .distinct()
        .withColumn("component", F.col("vertex"))
        .localCheckpoint(eager=True)
    )

    # Fixpoint detection via the label-sum invariant: every step takes an
    # element-wise MIN, so Σ component is strictly decreasing until the
    # fixpoint and equal exactly AT it — one cheap aggregate per round
    # instead of a self-join diff. Decimal sum: exact at any scale (a
    # bigint sum of 10⁹ large vertex ids could overflow silently).
    def label_sum(df: DataFrame) -> str:
        return str(
            df.agg(F.sum(F.col("component").cast("decimal(38,0)"))).collect()[0][0]
        )

    prev_sum = label_sum(labels)
    for _ in range(max_iterations):
        # 1) Propagate: min over the 1-hop neighborhood.
        neighbor_min = (
            edges.join(labels, edges.v == labels.vertex)
            .groupBy("u")
            .agg(F.min("component").alias("nbr_component"))
        )
        propagated = (
            labels.join(neighbor_min, labels.vertex == neighbor_min.u, "left")
            .select(
                "vertex",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
            )
        )
        # 2) Pointer jump: component ← component's own component (path
        # halving — turns O(diameter) convergence into O(log diameter)).
        lookup = propagated.select(
            F.col("vertex").alias("pv"), F.col("component").alias("pc")
        )
        new_labels = (
            propagated.join(lookup, propagated.component == lookup.pv, "left")
            .select(
                "vertex",
                F.least(
                    F.col("component"), F.coalesce(F.col("pc"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=True)  # truncate lineage each round
        )
        new_sum = label_sum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            return labels
        prev_sum = new_sum
    raise RuntimeError(f"connected_components: no fixpoint in {max_iterations} rounds")


def dedup_keep_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop all but the min-id representative of each near-dup cluster
    (singletons — docs in no pair — survive untouched)."""
    comp = connected_components(pairs)
    non_reps = comp.filter(F.col("vertex") != F.col("component")).select(
        F.col("vertex").alias(id_col)
    )
    return docs.join(non_reps, id_col, "left_anti")
