"""Densest subgraph — (2+2ε)-approximate greedy peeling.

The reference's community toolbox peels by fixed degree (k-core,
``computer-algorithm/.../community/kcore/Kcore.java:31-122``); the
densest-subgraph variant peels by a density-relative threshold instead
and keeps the best prefix — Charikar's greedy 2-approximation made
MapReduce-shaped by Bahmani, Kumar & Vassilvitskii (VLDB 2012,
"Densest Subgraph in Streaming and MapReduce"): each pass removes EVERY
vertex with degree ≤ 2(1+ε)·ρ(S), so only O(log₁₊ε n) passes are
needed. That batch-removal structure is exactly one groupBy + two
semi-joins per round here — the same Spark shape as kcore._peel — and
is the 10^12-edge plan: no per-vertex sequential peel, rounds
logarithmic in |V|, survivors shrink monotonically so AQE coalesces the
late rounds.

``max_rounds`` fixes the round count for oracle comparability (the
driver replays the identical unrolled rule in DuckDB); the returned set
is the round prefix with the highest density ρ = |E_und|/|S|, earliest
round on ties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans.lineage import barrier, release


def densest_subgraph(
    graph: Graph, eps: float = 0.1, max_rounds: int = 8
) -> DataFrame:
    """(id, density) — vertices of the densest peel prefix on the
    undirected simple graph; ``density`` (same value on every row,
    rounded to 6dp) = undirected-edge count / vertex count of that
    prefix. Isolated vertices count toward round 0's density and are
    peeled in round 1 (degree 0 ≤ any threshold)."""
    max_rounds = max(1, max_rounds)
    # sym: distinct symmetrized, self-loop-free — each undirected edge
    # appears as both (a,b) and (b,a), so |E_und| = |sym|/2 and the
    # src-grouped count IS the undirected degree.
    edges, (m2,) = barrier(None, graph.symmetrized().edges)  # 2·|E_und| rows
    verts, (n,) = barrier(None, graph.vertices.select("id"))
    best_density = -1.0
    best_verts: DataFrame | None = None
    for _ in range(max_rounds):
        density = (m2 / 2.0) / n if n else 0.0
        if density > best_density:
            best_density, best_verts = density, verts
        if n == 0:
            break
        threshold = 2.0 * (1.0 + eps) * density
        deg = edges.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        # strict >: Bahmani's A(S) = {v : deg ≤ 2(1+ε)ρ} is REMOVED
        prev_verts = verts
        verts, (n,) = barrier(
            None,
            verts.join(deg, "id", "left")
            .where(F.coalesce("deg", F.lit(0)) > threshold)
            .select("id"),
        )
        if prev_verts is not best_verts:  # best snapshot must stay live
            release(prev_verts)
        edges, (m2,) = barrier(
            edges,
            edges.join(verts.select(F.col("id").alias("src")), "src", "left_semi")
            .join(verts.select(F.col("id").alias("dst")), "dst", "left_semi"),
        )
    assert best_verts is not None
    return best_verts.select(
        "id", F.round(F.lit(best_density), 6).alias("density")
    )
