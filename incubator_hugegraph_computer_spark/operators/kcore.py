"""K-core decomposition — iterative peeling, then optional WCC phase.

Reference: ``computer-algorithm/.../community/kcore/Kcore.java:31-122``
(phase 1: delete vertices with degree < k, k default 3; phase 2: WCC
over the surviving core) and ``vermeer/algorithms/kcore.go`` (peeling
with ``kcore.degree_k``).

Spark shape: each peel round recomputes degrees over surviving edges —
one groupBy per round; survivors shrink monotonically so AQE coalesces
late rounds. ``max_rounds`` fixes the round count for oracle
comparability (pass None to run to fixpoint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans.lineage import barrier


def _peel(graph: Graph, k: int, max_rounds: int | None):
    """(core (id, degree), peeled symmetric edge set) after k-core
    peeling. The barrier's row count is the round's edge count; the
    pre-filter count is carried from the previous round's."""
    edges, (prev_count,) = barrier(None, graph.symmetrized().edges)
    rounds = 0
    while True:
        deg = edges.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("degree"))
        survivors = deg.where(F.col("degree") >= k).persist()
        keep_src = survivors.select(F.col("id").alias("src"))
        keep_dst = survivors.select(F.col("id").alias("dst"))
        edges, (cur_count,) = barrier(
            edges,
            edges.join(keep_src, "src", "left_semi").join(keep_dst, "dst", "left_semi"),
        )
        survivors.unpersist()
        rounds += 1
        stable = cur_count == prev_count and rounds > 1
        prev_count = cur_count
        if stable or (max_rounds is not None and rounds >= max_rounds):
            break
    core = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("degree"))
        .where(F.col("degree") >= k)
    )
    return core, edges


def kcore_vertices(
    graph: Graph, k: int = 3, max_rounds: int | None = None
) -> DataFrame:
    """(id, degree) of vertices surviving k-core peeling on the
    undirected graph. Runs to fixpoint unless max_rounds is set."""
    core, _ = _peel(graph, k, max_rounds)
    return core


def kcore(graph: Graph, k: int = 3, max_rounds: int | None = None) -> DataFrame:
    """(id, core_comp) — surviving k-core vertices labelled by the WCC
    of the core subgraph (Kcore.java phase 2: min-id propagation).

    Phase 2 reuses the PEELED edge set (already symmetric, self-loop
    free and checkpointed) restricted to core vertices — re-deriving
    ``graph.symmetrized()`` here would pay the full dedup shuffle a
    second time. The restriction matters when ``max_rounds`` capped the
    peel early: the last edge set may still touch sub-core vertices."""
    from incubator_hugegraph_computer_spark.operators.wcc import wcc

    core, peeled = _peel(graph, k, max_rounds)
    core_ids = core.select("id")
    core_edges = peeled.join(
        core_ids.select(F.col("id").alias("src")), "src", "left_semi"
    ).join(core_ids.select(F.col("id").alias("dst")), "dst", "left_semi")
    # the k-core is cycle-rich (long cycles survive peeling) and a
    # single cycle has diameter n/2 — label it with the O(log n)
    # edge contraction rather than diameter-bound min-propagation
    cg = Graph(core_ids, core_edges, graph.num_partitions).cache()
    comp = wcc(cg, method="contract")
    cg.unpersist()
    return comp.select("id", F.col("comp").alias("core_comp"))
