"""SALSA — Stochastic Approach for Link-Structure Analysis.

The degree-normalized sibling of HITS (``operators/hits.py``): instead
of raw sums, each step spreads a vertex's score UNIFORMLY over its
out-edges (auth pass) / in-edges (hub pass), i.e. a random walk that
alternates link direction. Included for the same reason HITS is: the
engine's target domain is link graphs, and SALSA is the standard
production variant (it resists the tightly-knit-community effect that
makes raw HITS scores degenerate on spam farms).

Per iteration (sum-normalized so a SQL oracle replays it exactly):

    a_k(v) = Σ_{u→v} h_{k-1}(u) / outdeg(u);   a_k ← a_k / Σ a_k
    h_k(u) = Σ_{u→v} a_k(v)   / indeg(v);      h_k ← h_k / Σ h_k

Degrees are over the distinct directed edge set; every edge endpoint
has outdeg ≥ 1 resp. indeg ≥ 1 on the side it is divided on, so no
zero-division guard is needed beyond the zero-TOTAL guard shared with
HITS (an edgeless graph normalizes by 1).

Physical shape — identical to HitsProgram: one superstep = one
iteration, the forward pass rides the SHUFFLE_HASH message_pass, the
backward pass and both normalizations stay in-plan (scalar one-row
aggregates broadcast back), one Spark action per iteration. The degree
columns are computed once up front and cached inside the edge DataFrame
(an fE-row projection joined into both passes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans.bsp import (
    BspEngine,
    BspProgram,
    SuperstepContext,
)
from incubator_hugegraph_computer_spark.operators.hits import _normalized


class SalsaProgram(BspProgram):
    name = "salsa"

    def __init__(self, graph: Graph):
        self.graph = graph
        # Edges annotated with the two divisors — built once, persisted,
        # reused by every superstep's two passes.
        e = graph.edges.select("src", "dst").distinct()
        odeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        ideg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("indeg"))
        self.edges = (
            e.join(odeg, "src").join(ideg, "dst").persist()
        )

    def initial_state(self, graph: Graph) -> DataFrame:
        return graph.vertices.select(
            "id", F.lit(0.0).alias("auth"), F.lit(1.0).alias("hub")
        )

    def messages(self, state: DataFrame, graph: Graph, ctx: SuperstepContext) -> DataFrame:
        # Forward: h(u)/outdeg(u) delivered to each out-neighbor.
        return (
            state.withColumnRenamed("id", "src")
            .hint("shuffle_hash")
            .join(self.edges, "src")
            .select("dst", (F.col("hub") / F.col("outdeg")).alias("msg"))
        )

    def combine(self, messages: DataFrame) -> DataFrame:
        return messages.groupBy(F.col("dst").alias("id")).agg(F.sum("msg").alias("msg"))

    def update(self, state: DataFrame, inbox: DataFrame, ctx: SuperstepContext) -> DataFrame:
        a_raw = ctx.persist(
            state.select("id").join(inbox, "id", "left").select(
                "id", F.coalesce("msg", F.lit(0.0)).alias("a_raw")
            )
        )
        auth = _normalized(a_raw, "a_raw", "auth")
        # Backward: a(v)/indeg(v) delivered to each in-neighbor.
        h_msgs = (
            auth.withColumnRenamed("id", "dst")
            .hint("shuffle_hash")
            .join(self.edges, "dst")
            .select(
                F.col("src").alias("id"),
                (F.col("auth") / F.col("indeg")).alias("m"),
            )
        )
        h_raw = ctx.persist(
            state.select("id")
            .join(h_msgs.groupBy("id").agg(F.sum("m").alias("h_raw")), "id", "left")
            .select("id", F.coalesce("h_raw", F.lit(0.0)).alias("h_raw"))
        )
        hub = _normalized(h_raw, "h_raw", "hub")
        return auth.join(hub, "id")


def salsa(graph: Graph, iterations: int = 5, **engine_kwargs) -> DataFrame:
    """(id, auth, hub) after ``iterations`` sum-normalized SALSA rounds."""
    program = SalsaProgram(graph)
    engine = BspEngine(graph, max_supersteps=iterations, **engine_kwargs)
    state, _ = engine.run(program, resume=False)
    out = state.select("id", "auth", "hub")
    program.edges.unpersist()
    return out
