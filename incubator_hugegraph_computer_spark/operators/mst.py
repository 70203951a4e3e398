"""Minimum spanning forest — distributed Boruvka.

The classic log-round distributed MST algorithm (Boruvka 1926; the
standard choice on BSP/Pregel systems because every round is a pure
join-aggregate pass and the component count at least halves per round).
Not in the reference suite, but a first-class member of the link-graph
toolbox (backbone extraction, clustering pre-step, network design).

Semantics: over the canonical undirected weighted edge set
(a = least endpoint, b = greatest, w = min weight across the pair's
directed instances, self-loops dropped), compute a minimum spanning
forest. Ties are broken by the lexicographic total order
(w, a, b) — a total order makes the chosen forest unique and
deterministic, and guarantees the per-round pointer graph has only
mutual 2-cycles (the textbook Boruvka-with-tiebreak property).

Per round (all DataFrame joins, hash-shuffled on their keys):
1. annotate edges with endpoint component labels, keep cut edges;
2. every component picks its minimum cut edge under (w, a, b) —
   one map-side-combined min-aggregate;
3. merge: components point at their partner; 2-cycles are rooted at
   the smaller id, then pointer-doubling collapses chains in
   O(log chain) tiny self-joins of the (shrinking) component table;
4. relabel vertices via one join.

Rounds are O(log V); at 1000 executors each round is dominated by the
two comp⋈edges joins (E rows, same key layout every round — AQE reuses
the exchange). The component table shrinks geometrically, so the
pointer-jump inner joins are cheap compared to step 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans.lineage import barrier, release


def msf(
    graph: Graph,
    weight_col: str | None = None,
    max_rounds: int = 25,
    max_jumps: int = 20,
) -> DataFrame:
    """(a, b, w) — edges of the minimum spanning forest.

    ``weight_col=None`` means unit weights (the MSF is then any BFS/DFS
    forest — still unique here under the (w, a, b) order).
    """
    spark = graph.spark
    w = (
        F.coalesce(F.col(weight_col).cast("double"), F.lit(1.0))
        if weight_col
        else F.lit(1.0)
    )
    und = (
        graph.edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            w.alias("w"),
        )
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
        .persist()
    )
    comp, _ = barrier(None, graph.vertices.select("id", F.col("id").alias("c")))
    forest: DataFrame | None = None
    for _ in range(max_rounds):
        ec = (
            und.join(
                comp.select(F.col("id").alias("a"), F.col("c").alias("ca")), "a"
            )
            .join(comp.select(F.col("id").alias("b"), F.col("c").alias("cb")), "b")
            .where(F.col("ca") != F.col("cb"))
        )
        # each touched component's minimum cut edge, (w, a, b) order;
        # carry both component ids so the merge graph needs no re-join
        pick = F.struct("w", "a", "b", "ca", "cb").alias("p")
        m, (n_picked,) = barrier(
            None,
            ec.select(F.col("ca").alias("c"), pick)
            .unionAll(ec.select(F.col("cb").alias("c"), pick))
            .groupBy("c")
            .agg(F.min("p").alias("p")),
        )
        if n_picked == 0:
            release(m)
            break
        chosen = m.select("p.a", "p.b", "p.w").distinct()
        forest, _ = (
            barrier(None, chosen)
            if forest is None
            else barrier(forest, forest.unionAll(chosen))
        )
        # pointer graph over component ids: c -> partner component
        ptr = m.select(
            "c",
            F.when(F.col("p.ca") == F.col("c"), F.col("p.cb"))
            .otherwise(F.col("p.ca"))
            .alias("o"),
        )
        # root mutual 2-cycles at the smaller id; chains keep their pointer
        oo = ptr.select(F.col("c").alias("o"), F.col("o").alias("oo"))
        p, _ = barrier(
            None,
            ptr.join(oo, "o", "left")
            .select(
                "c",
                F.when(F.col("oo") == F.col("c"), F.least("c", "o"))
                .otherwise(F.col("o"))
                .alias("r"),
            ),
        )
        # pointer doubling: r <- r(r) until fixpoint (components NOT in
        # p keep their own label; p only holds merging components)
        for _j in range(max_jumps):
            prev_p = p
            p, _ = barrier(
                None,
                p.alias("x")
                .join(
                    p.select(F.col("c").alias("r"), F.col("r").alias("rr")).alias("y"),
                    "r",
                    "left",
                )
                .select("c", F.coalesce("rr", "r").alias("r")),
            )
            stable = p.exceptAll(prev_p).isEmpty()
            release(prev_p)
            if stable:
                break
        comp, _ = barrier(
            comp,
            comp.join(p, "c", "left").select("id", F.coalesce("r", "c").alias("c")),
        )
        release(p)
        release(m)
    und.unpersist()
    release(comp)
    if forest is None:
        return spark.createDataFrame([], "a long, b long, w double")
    return forest.select("a", "b", "w")
