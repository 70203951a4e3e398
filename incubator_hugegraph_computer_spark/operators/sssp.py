"""Single-source shortest path — BSP frontier relaxation.

Reference: ``computer-algorithm/.../path/shortest/
SingleSourceShortestPath.java:40-285`` (Dijkstra-by-BSP: messages carry
total weight, vertex adopts shorter distance and forwards
weight + edge_weight; missing weight property defaults to 1) and the
plain-distance Vermeer variant (``vermeer/algorithms/sssp.go:46-125``,
``sssp.source`` param).

Spark shape: the frontier is the set of vertices whose distance
improved last superstep; each superstep is frontier⋈edges →
groupBy(dst).min — the canonical shrinking-frontier pass. Supersteps ≈
(weighted) diameter.
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


class SsspProgram(BspProgram):
    name = "sssp"

    def __init__(self, source: int, weight_col: str | None = None):
        self.source = source
        self.weight_col = weight_col

    def initial_state(self, graph: Graph) -> DataFrame:
        return graph.vertices.select(
            "id",
            F.when(F.col("id") == self.source, F.lit(0.0)).alias("dist"),  # else null = ∞
            (F.col("id") == self.source).alias("active"),
        )

    def messages(self, state: DataFrame, graph: Graph, ctx: SuperstepContext) -> DataFrame:
        # the pass joins the edge table itself, so a weight column is in scope
        w = (
            F.lit(1.0)
            if self.weight_col is None
            else F.coalesce(F.col(self.weight_col).cast("double"), F.lit(1.0))
        )
        return message_pass(
            state, graph, msg_col=F.col("dist") + w, frontier_filter=F.col("active")
        )

    def combine(self, messages: DataFrame) -> DataFrame:
        return messages.groupBy(F.col("dst").alias("id")).agg(F.min("msg").alias("msg"))

    def update(self, state: DataFrame, inbox: DataFrame, ctx: SuperstepContext) -> DataFrame:
        improved = F.col("msg").isNotNull() & (
            F.col("dist").isNull() | (F.col("msg") < F.col("dist"))
        )
        return state.join(inbox, "id", "left").select(
            "id",
            F.when(improved, F.col("msg")).otherwise(F.col("dist")).alias("dist"),
            improved.alias("active"),
        )

    def agg_exprs(self, ctx: SuperstepContext) -> dict[str, Any]:
        return {"reached": F.sum(F.col("dist").isNotNull().cast("long"))}


def sssp(
    graph: Graph,
    source: int,
    weight_col: str | None = None,
    max_supersteps: int = 100,
    **engine_kwargs,
) -> DataFrame:
    """(id, dist) for vertices reachable from ``source`` (unreachable
    vertices are omitted, matching the reference's '∞ not emitted')."""
    resume = engine_kwargs.pop("resume", False)
    engine = BspEngine(graph, max_supersteps=max_supersteps, **engine_kwargs)
    state, _ = engine.run(SsspProgram(source, weight_col), resume=resume)
    return state.where(F.col("dist").isNotNull()).select("id", "dist")


class WidestPathProgram(BspProgram):
    """Single-source WIDEST path (maximin / bottleneck): the path whose
    narrowest edge is widest — the max-min semiring swap of
    ``SsspProgram`` (message = min(cap, w) instead of dist + w, combine
    = MAX instead of MIN), demonstrating the BSP engine is
    semiring-generic: same driver loop, same frontier pruning, same
    termination rule. On a code-dependency graph with edge capacities
    (e.g. co-change confidence) this answers "what is the most reliable
    dependency chain from X to every module". Caps only ever increase
    and are drawn from the finite edge-weight set, so the fixpoint
    exists and the no-active rule fires at it."""

    name = "widest_path"

    def __init__(self, source: int, weight_col: str = "weight"):
        self.source = source
        self.weight_col = weight_col

    def initial_state(self, graph: Graph) -> DataFrame:
        return graph.vertices.select(
            "id",
            # source cap = +∞ (its bottleneck is undefined); null = unreached
            F.when(F.col("id") == self.source, F.lit(float("inf"))).alias("cap"),
            (F.col("id") == self.source).alias("active"),
        )

    def messages(self, state: DataFrame, graph: Graph, ctx: SuperstepContext) -> DataFrame:
        w = F.coalesce(F.col(self.weight_col).cast("double"), F.lit(1.0))
        return (
            state.where(F.col("active"))
            .select(F.col("id").alias("src"), "cap")
            .hint("shuffle_hash")
            .join(graph.edges, "src")
            .select("dst", F.least(F.col("cap"), w).alias("msg"))
        )

    def combine(self, messages: DataFrame) -> DataFrame:
        return messages.groupBy(F.col("dst").alias("id")).agg(F.max("msg").alias("msg"))

    def update(self, state: DataFrame, inbox: DataFrame, ctx: SuperstepContext) -> DataFrame:
        improved = F.col("msg").isNotNull() & (
            F.col("cap").isNull() | (F.col("msg") > F.col("cap"))
        )
        return state.join(inbox, "id", "left").select(
            "id",
            F.when(improved, F.col("msg")).otherwise(F.col("cap")).alias("cap"),
            improved.alias("active"),
        )

    def agg_exprs(self, ctx: SuperstepContext) -> dict[str, Any]:
        return {"reached": F.sum(F.col("cap").isNotNull().cast("long"))}


def widest_path(
    graph: Graph,
    source: int,
    weight_col: str = "weight",
    max_supersteps: int = 100,
    **engine_kwargs,
) -> DataFrame:
    """(id, cap) — widest-path bottleneck capacity from ``source`` for
    every reachable vertex; the source itself (cap = ∞) is excluded,
    unreachable vertices are omitted (the '∞ not emitted' convention of
    :func:`sssp`)."""
    resume = engine_kwargs.pop("resume", False)
    engine = BspEngine(graph, max_supersteps=max_supersteps, **engine_kwargs)
    state, _ = engine.run(WidestPathProgram(source, weight_col), resume=resume)
    return state.where(
        F.col("cap").isNotNull() & (F.col("id") != source)
    ).select("id", "cap")


class SsspPathProgram(BspProgram):
    """Full Java SSSP surface
    (``computer-algorithm/.../path/shortest/SingleSourceShortestPath.java:40-285``):

    - the value carries the **path IdList** alongside the total weight —
      a message holds the sender's path, the adopter appends itself
      (``SingleSourceShortestPathValue.shorterPath`` at ``:73-78``:
      path = msg.path + [self]; the source's own path is empty,
      ``zeroDistance`` ``:69-71``)
    - ``targets``: ``'*'`` or an id list (``OPTION_TARGET_ID`` parsing
      at ``:100-118``); reached targets accumulate in an **IdSet
      aggregator** (``SingleSourceShortestPathMaster`` registers
      ``ID_SET``/``IdSetMergeCombiner``), and once ALL targets are
      reached, target vertices stop forwarding
      (``isAllTargetsReached`` gate at ``:187-189``)
    - edge weight = ``weight_col`` (must be > 0), default 1
      (``getEdgeWeight`` ``:232-249``)

    Combiner: min over struct(weight, path) — the reference's
    ``SingleSourceShortestPathCombiner`` keeps the shorter totalWeight;
    ties are pinned here to the lexicographically smallest path (the
    reference keeps whichever arrives first — nondeterministic), and a
    vertex never replaces an equal-weight path it already holds.
    """

    name = "sssp_path"

    def __init__(self, source: int, targets="*", weight_col: str | None = None,
                 default_weight: float = 1.0):
        self.source = source
        # OPTION_TARGET_ID parsing (SingleSourceShortestPath.java:100-118):
        # '*' = all; a bare string is comma-separated ids (NOT iterated
        # per character); else any iterable of ids
        if targets == "*":
            self.targets = None
        elif isinstance(targets, str):
            self.targets = [int(t) for t in targets.split(",")]
        elif isinstance(targets, int):
            self.targets = [targets]
        else:
            self.targets = [int(t) for t in targets]
        self.weight_col = weight_col
        self.default_weight = default_weight

    def initial_state(self, graph: Graph) -> DataFrame:
        is_src = F.col("id") == self.source
        return graph.vertices.select(
            "id",
            F.when(is_src, F.lit(0.0)).alias("dist"),
            F.when(is_src, F.array().cast("array<long>")).alias("path"),
            is_src.alias("active"),
        )

    def messages(self, state: DataFrame, graph: Graph, ctx: SuperstepContext) -> DataFrame:
        frontier = state.where(F.col("active"))
        if self.targets == [self.source]:
            # single target == source: compute0 inactivates without
            # sending (SingleSourceShortestPath.java:142-147)
            frontier = frontier.where(F.lit(False))
        if self.targets is not None:
            reached = ctx.prev_aggs.get("reached_targets") or []
            if set(self.targets) <= set(reached):
                # all targets reached → target vertices stop forwarding
                # (non-targets continue, exactly the reference's gate)
                frontier = frontier.where(~F.col("id").isin(self.targets))
        if self.weight_col is None:
            w = F.lit(self.default_weight)
        else:
            w = F.coalesce(F.col(self.weight_col).cast("double"), F.lit(self.default_weight))
        # The forwarded path is the sender's value.path verbatim — it
        # already ends with the sender (adoption appends self,
        # shorterPath :73-78) — except the source, whose stored path is
        # empty (zeroDistance) but whose compute0 message carries
        # [source] (addToPath(vertex, w), :158-163).
        msg_path = F.when(
            F.col("src") == F.lit(self.source), F.array(F.col("src").cast("long"))
        ).otherwise(F.col("path"))
        return (
            frontier.select(F.col("id").alias("src"), "dist", "path")
            .hint("shuffle_hash")
            .join(graph.edges, "src")
            .select(
                "dst",
                F.struct(
                    (F.col("dist") + w).alias("w"),
                    msg_path.alias("path"),
                ).alias("msg"),
            )
        )

    def combine(self, messages: DataFrame) -> DataFrame:
        # min over (weight, path) — arrays order lexicographically, so
        # equal-weight candidates resolve deterministically
        return messages.groupBy(F.col("dst").alias("id")).agg(F.min("msg").alias("msg"))

    def update(self, state: DataFrame, inbox: DataFrame, ctx: SuperstepContext) -> DataFrame:
        improved = F.col("msg").isNotNull() & (
            F.col("dist").isNull() | (F.col("msg.w") < F.col("dist"))
        )
        return state.join(inbox, "id", "left").select(
            "id",
            F.when(improved, F.col("msg.w")).otherwise(F.col("dist")).alias("dist"),
            F.when(improved, F.concat(F.col("msg.path"), F.array(F.col("id"))))
            .otherwise(F.col("path"))
            .alias("path"),
            improved.alias("active"),
        )

    def agg_exprs(self, ctx: SuperstepContext) -> dict[str, Any]:
        exprs: dict[str, Any] = {
            "reached": F.sum(F.col("dist").isNotNull().cast("long"))
        }
        if self.targets is not None:
            # the IdSet aggregator: reached targets this superstep
            exprs["reached_targets"] = F.array_sort(
                F.collect_set(
                    F.when(
                        F.col("id").isin(self.targets) & F.col("dist").isNotNull(),
                        F.col("id"),
                    )
                )
            )
        return exprs

    def halt(self, ctx: SuperstepContext) -> bool:
        # single target == source: nothing to do (reference inactivates
        # immediately in compute0, :142-147)
        return self.targets == [self.source]


def sssp_paths(
    graph: Graph,
    source: int,
    targets="*",
    weight_col: str | None = None,
    default_weight: float = 1.0,
    max_supersteps: int = 100,
    **engine_kwargs,
) -> DataFrame:
    """(id, dist, path array<long>) for reached vertices; path is the
    full vertex sequence [source, ..., id]. The source's own row
    carries an empty path — matching the reference's ``zeroDistance``
    value exactly."""
    resume = engine_kwargs.pop("resume", False)
    engine = BspEngine(graph, max_supersteps=max_supersteps, **engine_kwargs)
    program = SsspPathProgram(source, targets, weight_col, default_weight)
    state, _ = engine.run(program, resume=resume)
    return state.where(F.col("dist").isNotNull()).select("id", "dist", "path")
