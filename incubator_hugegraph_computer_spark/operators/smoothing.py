"""Feature smoothing — k rounds of neighbor-mean propagation.

GNN-preprocessing crossover of the BSP message pass: the same
join-aggregate superstep the reference drives for PageRank
(``computer-algorithm/.../rank/pagerank/PageRank.java:95-130``) applied
to a numeric vertex feature instead of rank mass,

    x_{r+1}(v) = (1-α)·x_r(v) + α·mean_{u∈N(v)} x_r(u)

over the symmetrized adjacency; vertices with no neighbors keep their
value. This is "SGC/SIGN-style" feature pre-smoothing — at 10^12 edges
it runs as k shuffle-on-src join-aggregates over the one-time
hash-partitioned adjacency, identical plan shape (and cost) to k
PageRank supersteps; features stay columnar the whole way (a feature
VECTOR smooths the same way with per-dimension aggregation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans.lineage import barrier


def smooth_feature(
    graph: Graph,
    features: DataFrame,
    rounds: int = 3,
    alpha: float = 0.5,
    feature_col: str = "x",
) -> DataFrame:
    """(id, x) after ``rounds`` neighbor-mean mixing steps.

    ``features``: (id, <feature_col> double) — one row per graph
    vertex (missing vertices enter at 0.0).
    """
    sym = graph.symmetrized().edges  # distinct, self-loop-free, by src
    state = (
        graph.vertices.select("id")
        .join(features.select("id", F.col(feature_col).alias("x")), "id", "left")
        .select("id", F.coalesce("x", F.lit(0.0)).alias("x"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max(0, rounds)):
        # message pass: each neighbor contributes its value; groupBy dst
        # is the map-side-combined mean (sum+count partials)
        nbr = (
            sym.join(state.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.avg("x").alias("nbr_mean"))
        )
        state, _ = barrier(
            state,
            state.join(nbr, "id", "left")
            .select(
                "id",
                F.when(
                    F.col("nbr_mean").isNull(), F.col("x")
                ).otherwise(
                    F.lit(1.0 - alpha) * F.col("x") + F.lit(alpha) * F.col("nbr_mean")
                ).alias("x"),
            ),
        )
    return state


def label_spread(
    graph: Graph,
    seeds: DataFrame,
    rounds: int = 5,
    alpha: float = 0.5,
) -> DataFrame:
    """Zhu-Ghahramani-style continuous label spreading — (id, c, f)
    sparse class scores after ``rounds`` of

        f_{t+1}(v,c) = α·Σ_{u~v} f_t(u,c)/deg(u) + (1-α)·y(v,c)

    over the symmetrized adjacency, where y clamps every seed to score
    1.0 on its class forever. ``seeds``: (id, c) — one class per seed.

    The CONTINUOUS companion to seeded LPA (``operators/lpa.py``
    discrete majority vote): scores carry confidence, so downstream
    can threshold instead of committing to a hard argmax. Output stays
    long-format (id, class, score) rather than argmax-ing — two
    classes within float noise of each other would make the winner an
    ULP coin-flip; the caller owns that decision.

    Scale: state is (reached × classes) rows; each round is one
    |E|-row join + map-side-combined sum per class — the PageRank
    superstep plan, classes-fold wider. α = 0.5 keeps the mix weights
    exactly representable (dyadic), so cross-engine float drift is
    summation-order-only.
    """
    sym = graph.symmetrized().edges.select("src", "dst").localCheckpoint(eager=True)
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    y = seeds.select("id", "c", F.lit(1.0).alias("y")).localCheckpoint(eager=True)
    state = y.select("id", "c", F.col("y").alias("f"))
    for _ in range(rounds):
        msg = (
            state.join(deg, "id")
            .join(sym, state["id"] == sym["src"])
            .groupBy(F.col("dst").alias("id"), "c")
            .agg(F.sum(F.col("f") / F.col("deg")).alias("s"))
        )
        sup = msg.select("id", "c").union(y.select("id", "c")).distinct()
        state, _ = barrier(
            state,
            sup.join(msg, ["id", "c"], "left")
            .join(y, ["id", "c"], "left")
            .select(
                "id",
                "c",
                (
                    F.lit(alpha) * F.coalesce("s", F.lit(0.0))
                    + F.lit(1.0 - alpha) * F.coalesce("y", F.lit(0.0))
                ).alias("f"),
            ),
        )
    return state.where(F.col("f") > 0)
