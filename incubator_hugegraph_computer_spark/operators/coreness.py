"""Core decomposition — per-vertex coreness via nested peeling.

Generalizes the reference's fixed-k k-core
(``computer-algorithm/.../community/kcore/Kcore.java:31-122``,
``vermeer/algorithms/kcore.go``, repo ``operators/kcore.py``) to the
full decomposition: coreness(v) = the largest k such that v survives
k-core peeling. The standard per-vertex cohesion statistic on link
graphs (hub spam rings and boilerplate farms concentrate at high
coreness).

Physical shape: for k = 1..k_max, continue peeling the ALREADY-peeled
edge set from k-1 (cores are nested, so each level only removes more) —
per round one degree groupBy + two semi-joins, localCheckpoint per round
(lineage truncated), early exit once the edge set is empty. Survivor
sets shrink monotonically; AQE coalesces late rounds. The final
coreness is one union of the per-level survivor id sets + a max — no
V×k_max blowup, because each level only materializes ids that are still
alive.

``rounds_per_k`` fixes the inner peel-round budget per level (the outer
analogue of kcore's ``max_rounds``) so an unrolled SQL oracle replays
the loop exactly; a Spark early-stop at the inner fixpoint equals the
oracle's remaining no-op rounds. Coreness is therefore *capped peeling*
semantics: exact coreness wherever every level converged within budget,
declared-and-replayed behavior otherwise.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans.lineage import barrier, release


def coreness(graph: Graph, k_max: int = 16, rounds_per_k: int = 6) -> DataFrame:
    """(id, coreness) for every vertex (0 for vertices outside the
    1-core, i.e. isolated ones)."""
    spark = graph.spark
    edges, (prev_count,) = barrier(None, graph.symmetrized().edges)
    survivor_levels: list[DataFrame] = []
    for k in range(1, k_max + 1):
        if prev_count == 0:
            break
        rounds = 0
        while True:
            deg = edges.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("degree")
            )
            keep = deg.where(F.col("degree") >= k).persist()
            edges, (cur_count,) = barrier(
                edges,
                edges.join(keep.select(F.col("id").alias("src")), "src", "left_semi")
                .join(keep.select(F.col("id").alias("dst")), "dst", "left_semi"),
            )
            keep.unpersist()
            rounds += 1
            stable = cur_count == prev_count
            prev_count = cur_count
            if stable or cur_count == 0 or rounds >= rounds_per_k:
                break
        # id sets are small (shrinking); eager-checkpoint them so every
        # edge checkpoint except the live one stays releasable
        survivors, _ = barrier(
            None,
            edges.groupBy(F.col("src").alias("id"))
            .agg(F.count(F.lit(1)).alias("degree"))
            .where(F.col("degree") >= k)
            .select("id", F.lit(k).alias("k")),
        )
        survivor_levels.append(survivors)
    if not survivor_levels:
        release(edges)
        return graph.vertices.select("id", F.lit(0).alias("coreness"))
    lvl = reduce(DataFrame.unionAll, survivor_levels)
    core = lvl.groupBy("id").agg(F.max("k").alias("coreness"))
    out, _ = barrier(
        None,
        graph.vertices.select("id")
        .join(core, "id", "left")
        .select("id", F.coalesce("coreness", F.lit(0)).alias("coreness")),
    )
    release(edges)
    for s in survivor_levels:
        release(s)
    return out
