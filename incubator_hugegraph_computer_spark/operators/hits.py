"""HITS (hubs & authorities) — Kleinberg's link-analysis algorithm.

Not in the reference suite, but the canonical companion to PageRank on
a link graph (the engine's target domain): ``auth`` scores pages by the
quality of pages linking TO them, ``hub`` scores pages by the quality
of pages they link to. Included as a first-class operator because a
user running centrality workloads on the reference (PageRank, degree,
closeness, betweenness — ``computer-algorithm/.../centrality/``) gets
the standard remaining member of that family here.

Per iteration (sum-normalized, the deterministic variant a SQL oracle
can replay exactly):

    a_k(v) = Σ_{u→v} h_{k-1}(u);   a_k ← a_k / Σ_v a_k(v)
    h_k(u) = Σ_{u→v} a_k(v);       h_k ← h_k / Σ_u h_k(u)

Physical shape: one BSP superstep = one full HITS iteration. The
forward pass (auth) rides the engine's combined message pass
(SHUFFLE_HASH state⋈edges + map-side-combined groupBy(dst)); the
backward pass (hub) and BOTH normalizations run *in-plan* inside the
same superstep action — normalization sums are one-row aggregates
broadcast-crossJoined back (the scalar pattern of BspEngine's fused
supersteps),
so each iteration is exactly ONE Spark action regardless of V and E.
Nothing is collected; state stays (id, auth, hub) — V rows.
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


def _normalized(df: DataFrame, raw: str, out: str) -> DataFrame:
    """Divide ``raw`` by its global sum (guarded against an edgeless
    graph) via a broadcast one-row aggregate — no driver action."""
    total = df.agg(F.sum(raw).alias("_t"))
    scale = F.when(F.col("_t") == 0.0, F.lit(1.0)).otherwise(F.col("_t"))
    return df.crossJoin(F.broadcast(total)).select(
        "id", *[c for c in df.columns if c not in ("id", raw)],
        (F.col(raw) / scale).alias(out),
    )


class HitsProgram(BspProgram):
    name = "hits"

    def __init__(self, graph: Graph):
        self.graph = graph

    def initial_state(self, graph: Graph) -> DataFrame:
        # h_0 = 1 everywhere; the first normalization makes the initial
        # scale irrelevant, so 1.0 keeps the oracle CTE trivial.
        return graph.vertices.select(
            "id", F.lit(0.0).alias("auth"), F.lit(1.0).alias("hub")
        )

    def messages(self, state: DataFrame, graph: Graph, ctx: SuperstepContext) -> DataFrame:
        return message_pass(state, graph, msg_col=F.col("hub"))

    def combine(self, messages: DataFrame) -> DataFrame:
        return messages.groupBy(F.col("dst").alias("id")).agg(F.sum("msg").alias("msg"))

    def update(self, state: DataFrame, inbox: DataFrame, ctx: SuperstepContext) -> DataFrame:
        # auth: combined in-messages, 0 for vertices nobody links to.
        a_raw = state.select("id").join(inbox, "id", "left").select(
            "id", F.coalesce("msg", F.lit(0.0)).alias("a_raw")
        )
        # a_raw feeds both its normalization sum and the hub pass inside
        # ONE action — stored once, released after the barrier.
        a_raw = ctx.persist(a_raw)
        auth = _normalized(a_raw, "a_raw", "auth")
        # hub: reverse pass h(u) = Σ_{u→v} auth(v) — join auth state to
        # the edge list on dst, aggregate by src (map-side combined).
        h_msgs = (
            auth.withColumnRenamed("id", "dst")
            .hint("shuffle_hash")
            .join(self.graph.edges, "dst")
            .select(F.col("src").alias("id"), F.col("auth").alias("m"))
        )
        h_raw = (
            state.select("id")
            .join(h_msgs.groupBy("id").agg(F.sum("m").alias("h_raw")), "id", "left")
            .select("id", F.coalesce("h_raw", F.lit(0.0)).alias("h_raw"))
        )
        h_raw = ctx.persist(h_raw)
        hub = _normalized(h_raw, "h_raw", "hub")
        return auth.join(hub, "id")


def hits(graph: Graph, iterations: int = 5, **engine_kwargs) -> DataFrame:
    """(id, auth, hub) after ``iterations`` sum-normalized HITS rounds."""
    engine = BspEngine(graph, max_supersteps=iterations, **engine_kwargs)
    state, _ = engine.run(HitsProgram(graph), resume=False)
    return state.select("id", "auth", "hub")
