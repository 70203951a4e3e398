"""Truncated Katz centrality — attenuated walk counting.

The third classic link-graph centrality next to PageRank and HITS:

    katz(v) = Σ_{k=1..K} α^k · |walks of length k ending at v|

Computed with the scaled-walk recurrence, which needs no driver
scalars: every superstep runs the same plan with α as its one literal.

    y_0(v) = 1
    y_k(v) = α · Σ_{u→v} y_{k-1}(u)          (= α^k · walks_k(v))
    katz_k(v) = katz_{k-1}(v) + y_k(v)

Each superstep is the engine's standard combined message pass
(SHUFFLE_HASH state⋈edges on src + map-side-combined groupBy(dst)) —
one shuffle whose volume is bounded by distinct targets, V-row state,
no driver scalars at all (count_messages=False ⇒ one action/step).

Truncation at K is the deterministic fixed-iteration mode the DuckDB
oracle mirrors; for convergence α must be < 1/λ_max — callers picking
α near the spectral radius should raise ``iterations`` accordingly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans.bsp import (
    BspEngine,
    BspProgram,
    SuperstepContext,
    message_pass,
)

ALPHA_DEFAULT = 0.05


class KatzProgram(BspProgram):
    name = "katz"

    def __init__(self, alpha: float = ALPHA_DEFAULT):
        self.alpha = alpha

    def initial_state(self, graph: Graph) -> DataFrame:
        return graph.vertices.select(
            "id", F.lit(1.0).alias("y"), F.lit(0.0).alias("katz")
        )

    def messages(self, state: DataFrame, graph: Graph, ctx: SuperstepContext) -> DataFrame:
        # Walks that already died (y=0) send nothing — frontier pruning.
        return message_pass(state, graph, msg_col=F.col("y"), frontier_filter=F.col("y") != 0.0)

    def combine(self, messages: DataFrame) -> DataFrame:
        return messages.groupBy(F.col("dst").alias("id")).agg(F.sum("msg").alias("msg"))

    def update(self, state: DataFrame, inbox: DataFrame, ctx: SuperstepContext) -> DataFrame:
        y = F.lit(self.alpha) * F.coalesce(F.col("msg"), F.lit(0.0))
        return state.join(inbox, "id", "left").select(
            "id", y.alias("y"), (F.col("katz") + y).alias("katz")
        )


def katz(graph: Graph, alpha: float = ALPHA_DEFAULT, iterations: int = 4, **engine_kwargs) -> DataFrame:
    """(id, katz) — attenuated-walk centrality truncated at ``iterations`` hops."""
    engine_kwargs.setdefault("count_messages", False)
    engine = BspEngine(graph, max_supersteps=iterations, **engine_kwargs)
    state, _ = engine.run(KatzProgram(alpha), resume=False)
    return state.select("id", "katz")
