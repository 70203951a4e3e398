"""Eigenvector centrality — sum-normalized power iteration.

Completes the centrality family alongside the reference's PageRank /
closeness / betweenness / degree (``computer-algorithm/.../centrality/``)
and this repo's HITS / Katz: PageRank without teleport or out-degree
scaling, i.e. the principal eigenvector of the adjacency transpose:

    x_k(v) = Σ_{u→v} x_{k-1}(u);   x_k ← x_k / Σ_v x_k(v)

Each iteration is one engine superstep: the combined message pass
(SHUFFLE_HASH state⋈edges + map-side-combined groupBy(dst)), with the
normalization sum applied IN-PLAN via a broadcast one-row aggregate
(the PageRank scalar pattern) — one Spark action per iteration, V-row
state, nothing collected. Fixed iterations keep the result exactly
replayable by an unrolled SQL oracle; sum-normalization (not L2) keeps
the oracle in plain aggregates.
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
from incubator_hugegraph_computer_spark.plans.lineage import barrier


class EigenvectorProgram(BspProgram):
    name = "eigenvector"

    def initial_state(self, graph: Graph) -> DataFrame:
        return graph.vertices.select("id", F.lit(1.0).alias("x"))

    def messages(self, state: DataFrame, graph: Graph, ctx: SuperstepContext) -> DataFrame:
        return message_pass(state, graph, msg_col=F.col("x"), frontier_filter=F.col("x") != 0.0)

    def combine(self, messages: DataFrame) -> DataFrame:
        return messages.groupBy(F.col("dst").alias("id")).agg(F.sum("msg").alias("msg"))

    def update(self, state: DataFrame, inbox: DataFrame, ctx: SuperstepContext) -> DataFrame:
        raw = state.join(inbox, "id", "left").select(
            "id", F.coalesce("msg", F.lit(0.0)).alias("r")
        )
        total = raw.agg(F.sum("r").alias("_t"))
        scale = F.when(F.col("_t") == 0.0, F.lit(1.0)).otherwise(F.col("_t"))
        return raw.crossJoin(F.broadcast(total)).select(
            "id", (F.col("r") / scale).alias("x")
        )


def eigenvector(graph: Graph, iterations: int = 5, **engine_kwargs) -> DataFrame:
    """(id, x) after ``iterations`` sum-normalized power steps."""
    engine = BspEngine(graph, max_supersteps=iterations, **engine_kwargs)
    state, _ = engine.run(EigenvectorProgram(), resume=False)
    return state.select("id", "x")


def newman_leading_vector(graph: Graph, iterations: int = 6) -> DataFrame:
    """(id, bscore) — power iteration toward the leading eigenvector of
    Newman's modularity matrix B = A − k·kᵀ/2m over the undirected
    graph (Newman PNAS'06 spectral community detection: the SIGN
    pattern of this vector is the best 2-way modularity split; the
    magnitude is each vertex's strength of membership).

    Matrix-free: B·v needs only A·v (one message-pass join-aggregate)
    plus the scalar (k·v)/2m (one map-side-combined aggregate kept
    in-plan as a one-row broadcast) — B itself (dense, O(V²)) is never
    materialized. L1 renormalization per step; the score is returned
    raw (rounded 6 dp) rather than sign-thresholded — vertices near
    the nodal line are genuinely ambiguous and an argsign would be an
    ULP coin-flip (same reasoning as label_spread's no-argmax rule).

    Start vector: md5-derived ±1 signs — deterministic, replayed by
    the oracle, and almost surely non-orthogonal to the leading
    eigenvector. Per iteration cost = one PageRank superstep.
    """
    from pyspark.sql import functions as F

    sym = graph.symmetrized().edges.select("src", "dst").localCheckpoint(eager=True)
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("k"))
    m2 = deg.agg(F.sum("k").cast("double").alias("m2"))
    sign = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("id").cast("string"), F.lit("nv"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    v = (
        deg.select(
            "id",
            "k",
            F.when(sign == 0, F.lit(1.0)).otherwise(F.lit(-1.0)).alias("x"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(iterations):
        av = (
            sym.join(
                v.select(F.col("id").alias("dst"), F.col("x").alias("nx")), "dst"
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("nx").alias("av"))
        )
        kv = v.agg(F.sum(F.col("k") * F.col("x")).alias("kv"))
        bv = (
            v.select("id", "k")
            .join(av, "id", "left")
            .crossJoin(F.broadcast(kv))  # one-row scalar
            .crossJoin(F.broadcast(m2))  # one-row scalar
            .select(
                "id",
                "k",
                (
                    F.coalesce("av", F.lit(0.0))
                    - F.col("k") * F.col("kv") / F.col("m2")
                ).alias("bx"),
            )
        )
        norm = bv.agg(F.sum(F.abs(F.col("bx"))).alias("n1"))
        v, _ = barrier(
            v,
            bv.crossJoin(F.broadcast(norm))  # one-row scalar
            .select("id", "k", (F.col("bx") / F.col("n1")).alias("x")),
        )
    return v.select("id", F.round("x", 6).alias("bscore"))
