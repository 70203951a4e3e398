"""Threshold activation cascade (bootstrap percolation / linear
threshold with integer thresholds).

Influence-spread primitive over the link graph: a seed set activates at
round 0; an inactive vertex activates at round r+1 once at least ``k``
of its distinct in-neighbors are active. Deterministic (no coin flips),
monotone, terminates in <= diameter rounds.

Physical shape: only the round's NEWLY activated vertices send — each
round is one frontier-to-edges shuffled-hash join plus a map-side
combined count, merged into a running per-vertex counter (each
in-neighbor activates exactly once, so per-round distinct counts sum to
the distinct total; no vertex is ever re-counted). Per-round work is
proportional to the frontier's out-edges, not the cumulative active
set, and the loop halts the first round nobody activates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans.lineage import barrier


def threshold_cascade(
    graph: Graph, seeds: DataFrame, k: int = 2, max_rounds: int = 20
) -> DataFrame:
    """(id, round) — first activation round per activated vertex; rows
    for never-activated vertices are omitted. ``seeds`` is a one-column
    (id) frame activated at round 0."""
    edges = (
        graph.edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    )
    active = seeds.select("id", F.lit(0).cast("long").alias("round")).persist()
    frontier = active.select("id")
    # running count of active in-neighbors for not-yet-active vertices
    counts = None
    for rnd in range(1, max_rounds + 1):
        msgs = (
            frontier.select(F.col("id").alias("src"))
            .join(edges, "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        prev_counts = counts
        if counts is None:
            plan = msgs
        else:
            plan = (
                counts.unionByName(msgs)
                .groupBy("id")
                .agg(F.sum("c").alias("c"))
            )
        counts, (n_newly,) = barrier(
            prev_counts, plan.join(active, "id", "left_anti"), F.count_if(F.col("c") >= k)
        )
        if n_newly == 0:
            break
        newly = counts.where(F.col("c") >= k).select(
            "id", F.lit(rnd).cast("long").alias("round")
        )
        active, _ = barrier(active, active.unionByName(newly))
        frontier = newly
    return active
