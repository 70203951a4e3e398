"""Maximal independent set — Luby's algorithm, deterministic priorities.

Beyond-reference addition (SURVEY.md §2.10), sibling of the speculative
greedy coloring (operators/coloring.py): the classic BSP symmetry-
breaking primitive (Luby 1986). Each round every ALIVE vertex draws a
priority; a vertex joins the MIS iff its priority beats every alive
neighbor's; winners and their neighbors leave the graph. Expected
O(log V) rounds.

Determinism / oracle-replayability: the priority is
``md5(id || ':<seed>:<round>')`` — a fresh uniform draw per (vertex,
round) that DuckDB computes bit-identically, so the *entire run* is
replayable in SQL (unrolled rounds). md5 outputs are unique per
distinct input, so there are no ties to break.

Scale shape per round: one E-row join + groupBy(src) min (map-side
combined) finds each vertex's best alive-neighbor priority; winners are
a V-row anti-join; edge pruning is two semi-joins. The alive set
SHRINKS geometrically (each round removes winners + neighbors — in
expectation ≥ half the EDGES), so late rounds are near-free, and every
round's state is localCheckpoint-truncated exactly like the BSP
operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans.lineage import barrier, release


def _priority(col, seed: int, rnd: int):
    return F.md5(F.concat(col.cast("string"), F.lit(f":{seed}:{rnd}")))


def maximal_independent_set(
    graph: Graph, max_rounds: int = 20, seed: int = 42
) -> DataFrame:
    """(id, in_mis) over the symmetrized graph (independence is
    undirected). ``max_rounds`` is declared semantics — both this and
    the SQL oracle run exactly the same rounds; on every graph tested
    the alive set empties well before 20 (expected O(log V))."""
    max_rounds = max(1, max_rounds)  # mis must exist before the final join
    sym = graph.symmetrized().edges.select("src", "dst")
    alive_v, _ = barrier(None, graph.vertices.select("id"))
    alive_e, _ = barrier(None, sym)
    mis = None
    for rnd in range(1, max_rounds + 1):
        pri = alive_v.select("id", _priority(F.col("id"), seed, rnd).alias("p"))
        nb_min = (
            alive_e.join(
                pri.select(F.col("id").alias("dst"), F.col("p").alias("np")), "dst"
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("np").alias("mnp"))
        )
        winners, _ = barrier(
            None,
            pri.join(nb_min, "id", "left")
            .where(F.col("mnp").isNull() | (F.col("p") < F.col("mnp")))
            .select("id"),
        )
        mis = winners if mis is None else barrier(mis, mis.unionAll(winners))[0]
        removed = winners.unionAll(
            alive_e.join(winners.withColumnRenamed("id", "src"), "src").select(
                F.col("dst").alias("id")
            )
        ).distinct()
        alive_v, (n_alive,) = barrier(alive_v, alive_v.join(removed, "id", "left_anti"))
        if n_alive == 0:
            break
        alive_e, _ = barrier(
            alive_e,
            alive_e.join(alive_v.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(alive_v.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .select("src", "dst"),
        )
        if mis is not winners:
            release(winners)
    return graph.vertices.select("id").join(
        mis.withColumn("in_mis", F.lit(True)), "id", "left"
    ).select("id", F.coalesce("in_mis", F.lit(False)).alias("in_mis"))
