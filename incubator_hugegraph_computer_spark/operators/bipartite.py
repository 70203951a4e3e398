"""Per-component bipartiteness via parity BFS.

A component is bipartite iff it has no odd cycle, iff a BFS 2-coloring
from any root produces no monochromatic edge. Beyond-reference
addition (SURVEY.md §2.10): the reference's community/stat families
never test two-colorability, yet it is the standard first question
about an interaction graph (user–item, caller–callee).

Shape: one WCC pass for component labels, then ONE multi-source BFS
over the symmetrized graph — every component's root (its min-id
member, which IS the wcc label) starts at distance 0 simultaneously,
so the loop count is the max component diameter, not the component
count. Each round is the standard frontier join-dedup-anti-join; a
final edge self-join flags equal-parity (odd) edges per component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.operators.wcc import wcc
from incubator_hugegraph_computer_spark.plans.lineage import barrier, release


def bipartite_check(graph: Graph, max_depth: int = 200) -> DataFrame:
    """(comp, n_vertices, is_bipartite) — one row per weakly connected
    component (comp = min member id), BFS-parity two-colored."""
    sym = graph.symmetrized().edges.select("src", "dst").persist()
    comp = wcc(graph, count_messages=False).persist()

    # multi-source parity BFS: roots are the component labels themselves
    labeled, _ = barrier(
        None,
        comp.where(F.col("comp") == F.col("id")).select(
            "id", F.lit(0).alias("parity")
        ),
    )
    frontier = labeled
    for _ in range(max_depth):
        nxt = (
            frontier.withColumnRenamed("id", "src")
            .join(sym, "src")
            .select(F.col("dst").alias("id"), ((F.col("parity") + 1) % 2).alias("parity"))
            .distinct()
            .join(labeled.select("id"), "id", "left_anti")
            # a vertex first reached at this depth keeps ONE parity;
            # both parities can race in only on an odd cycle, where
            # either choice still yields a monochromatic edge — pick
            # min for determinism
            .groupBy("id")
            .agg(F.min("parity").alias("parity"))
        )
        nxt, (n,) = barrier(None, nxt)
        if n == 0:
            release(nxt)
            break
        new_labeled, _ = barrier(labeled, labeled.unionAll(nxt))
        if frontier is not labeled:
            release(frontier)
        labeled, frontier = new_labeled, nxt
    else:
        # an exhausted depth budget would leave vertices unlabeled and
        # silently drop their edges from the odd-edge check — refuse
        # rather than under-report odd cycles
        if labeled.count() < comp.count():
            raise RuntimeError(
                f"bipartite_check: BFS did not label every vertex within "
                f"max_depth={max_depth} — raise max_depth"
            )

    odd = (
        sym.join(labeled.withColumnRenamed("id", "src").withColumnRenamed("parity", "p_src"), "src")
        .join(labeled.withColumnRenamed("id", "dst").withColumnRenamed("parity", "p_dst"), "dst")
        .where(F.col("p_src") == F.col("p_dst"))
        .join(comp.withColumnRenamed("id", "src"), "src")
        .select("comp")
        .distinct()
    )
    out = (
        comp.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
        .join(odd.withColumn("odd", F.lit(True)), "comp", "left")
        .select("comp", "n_vertices", F.coalesce(~F.col("odd"), F.lit(True)).alias("is_bipartite"))
    )
    result, _ = barrier(labeled, out)
    sym.unpersist()
    comp.unpersist()
    return result
