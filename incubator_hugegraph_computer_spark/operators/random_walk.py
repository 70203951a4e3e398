"""Random walks (node2vec-style sampling).

Reference: ``computer-algorithm/.../sampling/RandomWalk.java:44-389``:
``walk_per_node`` walks of ``walk_length`` steps from every vertex,
next hop drawn by (optionally weight-proportional) random choice over
out-edges, weights clamped to [min,max] thresholds.

Differences by design: the reference draws from ``Math.random()``
(irreproducible); this engine derives every draw from
``xxhash64(walk_id, step, candidate)`` so a seed pins the entire output
— required for resumable runs and testable distributions.

Mechanics per step (all vertices advance in lockstep — one superstep
per hop, as in the reference):

  walks ⋈ edges on (current = src)  →  candidate hops
  uniform:   pick argmin hash(seed, walk, step, dst)
  weighted:  exponential-race sampling — argmin (-ln(u)/w); the winner
             is weight-proportional (Efraimidis-Spirakis reservoir key)
  groupBy(walk) min(struct(key, dst)) → one winner per walk

Walks that reach a dangling vertex stop (reference behavior: walk ends
when no out-edge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans.lineage import barrier


def random_walk(
    graph: Graph,
    walk_length: int = 5,
    walks_per_node: int = 1,
    seed: int = 42,
    weight_col: str | None = None,
    min_weight: float = 0.0,
    max_weight: float = float("inf"),
    return_factor: float = 1.0,
    inout_factor: float = 1.0,
) -> DataFrame:
    """(walk_id, start, path array<long>) — one row per walk.

    ``return_factor`` / ``inout_factor`` are node2vec's p / q
    (``RandomWalk.java:52-53,305-334``): with previous vertex t and
    candidate next hop x from current vertex v, the edge weight is
    multiplied by α — 1/p when x == t (distance 0), 1 when x ∈ N(t)
    (distance 1, membership against t's out-neighbors exactly as the
    reference accumulates preVertexAdjacence), 1/q otherwise
    (distance 2). Both default 1 (first-order walk — the biased path,
    which needs one extra edge-membership join per hop, is skipped
    entirely then)."""
    if return_factor <= 0 or inout_factor <= 0:
        raise ValueError("return_factor and inout_factor must be > 0")
    starts = graph.vertices.select("id")
    if walks_per_node > 1:
        reps = graph.spark.range(walks_per_node).select(F.col("id").alias("rep"))
        starts = starts.crossJoin(F.broadcast(reps))
    else:
        starts = starts.withColumn("rep", F.lit(0))
    second_order = return_factor != 1.0 or inout_factor != 1.0
    walks = starts.select(
        F.concat_ws("_", F.col("id"), F.col("rep")).alias("walk_id"),
        F.col("id").alias("start"),
        F.col("id").alias("current"),
        F.lit(None).cast("long").alias("prev"),
        F.array(F.col("id")).alias("path"),
    ).persist()

    # Collapse parallel edges up front: the draw key is a pure function
    # of (walk, step, dst), so duplicate (src, dst) rows would otherwise
    # contribute ONE candidate instead of multiplicity-many. Summing the
    # (clamped) weights — or the multiplicity for uniform walks — into
    # one candidate gives exactly the multigraph distribution
    # (exponential race with w = Σw_i ≡ independent races per parallel
    # edge), without carrying an edge-index column.
    if weight_col:
        w_edge = F.coalesce(F.col(weight_col).cast("double"), F.lit(1.0))
        w_edge = F.greatest(F.least(w_edge, F.lit(max_weight)), F.lit(min_weight))
        edges = (
            graph.edges.select("src", "dst", w_edge.alias("_w"))
            .groupBy("src", "dst")
            .agg(F.sum("_w").alias("_w"))
        )
    else:
        edges = graph.edges.groupBy("src", "dst").agg(
            F.count(F.lit(1)).cast("double").alias("_w")
        )
    for step in range(1, walk_length + 1):
        cand = walks.join(edges, walks.current == edges.src)
        u = (
            (F.abs(F.xxhash64(F.lit(seed), F.col("walk_id"), F.lit(step), F.col("dst")))
             % F.lit(2**40)).cast("double") + F.lit(1.0)
        ) / F.lit(float(2**40))  # u ∈ (0, 1]
        w = F.col("_w")
        if second_order:
            # is the candidate dst an out-neighbor of the previous
            # vertex? one semi-membership join on (prev, dst)
            prev_nbr = edges.select(
                F.col("src").alias("prev"), F.col("dst").alias("dst"), F.lit(1).alias("_pn")
            )
            cand = cand.join(prev_nbr, ["prev", "dst"], "left")
            alpha = (
                F.when(F.col("dst") == F.col("prev"), F.lit(1.0 / return_factor))
                .when(F.col("_pn").isNotNull(), F.lit(1.0))
                .otherwise(F.lit(1.0 / inout_factor))
            )
            # first hop has no previous vertex — plain weighted draw
            # (node2vec's first step is unbiased)
            w = w * F.when(F.col("prev").isNull(), F.lit(1.0)).otherwise(alpha)
        # exponential-race key: argmin -ln(u)/w is weight-proportional
        # (Efraimidis-Spirakis); w is 1 for simple uniform graphs, the
        # parallel-edge multiplicity for uniform multigraphs
        key = -F.log(u) / F.greatest(w, F.lit(1e-300))
        picked = (
            cand.select("walk_id", key.alias("k"), F.col("dst"))
            .groupBy("walk_id")
            .agg(F.min(F.struct(F.col("k"), F.col("dst"))).alias("best"))
            .select("walk_id", F.col("best.dst").alias("next"))
        )
        new_walks = (
            walks.join(picked, "walk_id", "left")
            .select(
                "walk_id",
                "start",
                F.coalesce(F.col("next"), F.col("current")).alias("current"),
                F.when(F.col("next").isNotNull(), F.col("current"))
                .otherwise(F.col("prev"))
                .alias("prev"),
                F.when(
                    F.col("next").isNotNull(), F.concat(F.col("path"), F.array(F.col("next")))
                )
                .otherwise(F.col("path"))
                .alias("path"),
            )
        )
        walks, _ = barrier(walks, new_walks)
    return walks.select("walk_id", "start", "path")
