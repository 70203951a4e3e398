"""Truncated hitting time to a target set — random-walk proximity.

Beyond-reference addition (SURVEY.md §2.10): expected steps for a
uniform random walk to first reach any target vertex, truncated at a
horizon K (Sarkar & Moore, "A tractable approach to finding closest
truncated-commute-time neighbors", UAI'07 — the truncation is what
makes the quantity computable by K fixed-point sweeps instead of a
linear solve). The classic proximity signal for recommendation /
link-prediction re-ranking: low hitting time = tightly connected to
the target set through MANY short paths, not just one.

Recurrence (deterministic, SQL-replayable — the oracle unrolls it):
    h_0(v)  = 0 if v ∈ T else K
    h_k(v)  = 0                         if v ∈ T
            = K                         if outdeg(v) = 0 (dangling)
            = min(K, 1 + Σ_u h_{k-1}(u) / outdeg(v))   over out-edges

Spark shape per sweep: one E-row join pulling the neighbor values +
one groupBy(src) sum (map-side combined), then a V-row left join —
the same message-pass silhouette as PageRank, K times; state is
localCheckpoint-truncated per sweep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans.lineage import barrier


def hitting_time(graph: Graph, targets: DataFrame, horizon: int = 8) -> DataFrame:
    """(id, hitting_time) — truncated expected steps to reach ``targets``
    (id column) along out-edges; targets score 0, vertices that cannot
    reach any target within the horizon score K."""
    k = float(horizon)
    tgt = targets.select("id").withColumn("_t", F.lit(True))
    deg = graph.edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("_d")
    )
    base = (
        graph.vertices.select("id")
        .join(tgt, "id", "left")
        .join(deg, "id", "left")
        .select(
            "id",
            F.coalesce("_t", F.lit(False)).alias("_t"),
            F.coalesce("_d", F.lit(0)).alias("_d"),
        )
        .persist()
    )
    h, _ = barrier(
        None,
        base.select("id", F.when(F.col("_t"), 0.0).otherwise(F.lit(k)).alias("h")),
    )
    edges = graph.edges.select("src", "dst")
    for _ in range(horizon):
        sums = (
            edges.join(h.select(F.col("id").alias("dst"), F.col("h").alias("_nh")), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("_nh").alias("_s"))
        )
        h, _ = barrier(
            h,
            base.join(sums, "id", "left")
            .select(
                "id",
                F.when(F.col("_t"), 0.0)
                .when(F.col("_d") == 0, F.lit(k))
                .otherwise(
                    F.least(F.lit(k), 1.0 + F.col("_s") / F.col("_d"))
                )
                .alias("h"),
            ),
        )
    base.unpersist()
    return h.select("id", F.col("h").alias("hitting_time"))
