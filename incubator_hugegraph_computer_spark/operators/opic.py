"""OPIC — Online Page Importance Computation (Abiteboul, Preda &
Cobena, WWW 2003), the crawl-native importance measure.

Complements the reference's PageRank family (``computer-algorithm/
.../pagerank/PageRank.java``) for the crawl tier this engine targets:
OPIC is the importance estimator a crawler maintains WHILE crawling —
no damping factor, no convergence tolerance to tune, and the
cash/history split means a fetched page's importance estimate is
meaningful at every point of the crawl, not only at convergence.

Synchronous batch formulation (the BSP-friendly variant of the paper's
"Greedy" policy, with the paper's virtual page handling dangling
nodes by redistributing their cash uniformly):

    C_0(v) = 1/n,  H_0(v) = 0
    step k:  every page banks its cash into history and distributes it
             equally over its out-edges; dangling cash routes through
             the virtual page, i.e. dangling_mass/n to every page:
        H_k(v) = H_{k-1}(v) + C_{k-1}(v)
        C_k(v) = Σ_{u→v} C_{k-1}(u)/outdeg(u) + dangling_{k-1}/n
    importance after T steps:
        X(v) = (H_T(v) + C_T(v)) / (T + 1)
    (total cash is invariant 1 per step, so Σ H_T = T and the
    denominator normalizes X to a probability vector.)

Scale shape: identical to the audited PageRank plan — one co-partitioned
SHUFFLE_HASH state⋈edges join + map-side-combined groupBy(dst) per
superstep; the dangling mass is one scalar aggregator (computed in the
same single agg pass as the engine's other counters) enters the next
superstep's update as a literal. V-row state, nothing collected.
Fixed iterations keep the result exactly replayable by an unrolled SQL
oracle.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans.bsp import (
    BspEngine,
    BspProgram,
    SuperstepContext,
    message_pass,
)


class OpicProgram(BspProgram):
    name = "opic"

    def initial_state(self, graph: Graph) -> DataFrame:
        n = graph.num_vertices()
        return graph.out_degrees().select(
            "id",
            "out_deg",
            F.lit(1.0 / n).alias("cash"),
            F.lit(0.0).alias("hist"),
        )

    def messages(self, state: DataFrame, graph: Graph, ctx: SuperstepContext) -> DataFrame:
        return message_pass(
            state,
            graph,
            msg_col=F.col("cash") / F.col("out_deg"),
            frontier_filter=F.col("out_deg") > 0,
        )

    def combine(self, messages: DataFrame) -> DataFrame:
        return messages.groupBy(F.col("dst").alias("id")).agg(F.sum("msg").alias("msg"))

    def agg_exprs(self, ctx: SuperstepContext) -> dict[str, Any]:
        return {
            "dangling": F.sum(F.when(F.col("out_deg") == 0, F.col("cash")).otherwise(0.0)),
            "total_cash": F.sum("cash"),  # invariant 1.0 — checkpointed run evidence
        }

    def update(self, state: DataFrame, inbox: DataFrame, ctx: SuperstepContext) -> DataFrame:
        dangling_cash = F.lit(float(ctx.prev_aggs["dangling"]) / ctx.num_vertices)
        return state.join(inbox, "id", "left").select(
            "id",
            "out_deg",
            (F.coalesce(F.col("msg"), F.lit(0.0)) + dangling_cash).alias("cash"),
            (F.col("hist") + F.col("cash")).alias("hist"),
        )


def opic(graph: Graph, iterations: int = 5, **engine_kwargs) -> DataFrame:
    """(id, opic) — the OPIC importance estimate ``(H+C)/(T+1)`` after
    exactly ``iterations`` synchronous cash-distribution steps."""
    engine = BspEngine(graph, max_supersteps=iterations, **engine_kwargs)
    state, _ = engine.run(OpicProgram(), resume=False)
    out = state.select(
        "id",
        ((F.col("hist") + F.col("cash")) / float(iterations + 1)).alias("opic"),
    )
    return out
