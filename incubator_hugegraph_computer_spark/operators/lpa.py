"""Label Propagation (community detection) — two reference variants.

``lpa`` — the Java Computer semantics
(``computer-algorithm/.../community/lpa/Lpa.java:33-99``), made
deterministic:

- superstep 0: label = own id, broadcast along **out-edges**, inactivate
- superstep k: only vertices that *received* messages recompute
  (vote-to-halt reactivation); label = most frequent incoming label;
  on change, adopt + rebroadcast the new label; otherwise stay silent
- ties: the reference picks uniformly at random (Lpa.java:95-97); this
  engine uses **min label** so runs are reproducible — the reference's
  own test only asserts the community *count* (4,
  ``LpaTest.java:125-133``), which the deterministic rule preserves
  (verified in tests/test_lpa.py).
- terminates when no vertex changed (no messages in flight) or at the
  superstep budget (default 10, AlgorithmTestBase.java:69-70).

``lpa_sync`` — the Vermeer synchronous semantics
(``vermeer/algorithms/lpa.go:154-286``): every step every vertex
recomputes from the in+out neighbor label multiset (a mutual edge
counts twice), min-label tie-break (compareOption 0), halting when
diff_sum == 0 or the two-step oscillation guard grandpa_diff_sum == 0
trips (LpaMaster.Compute).

Both variants: the frequency/argmax is one shuffle —
count per (dst, label) partially aggregates map-side, then the
argmax-with-min-tie-break folds into ``min(struct(-cnt, label))``
inside the same aggregation tree (no window function, no extra pass).
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
from incubator_hugegraph_computer_spark.plans.lineage import barrier


def _argmax_min_label(messages: DataFrame) -> DataFrame:
    """(dst, msg) multiset → (id, msg) winner per dst: max frequency,
    ties to the smallest label."""
    counts = messages.groupBy("dst", "msg").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        counts.groupBy(F.col("dst").alias("id"))
        .agg(
            F.min(
                F.struct((-F.col("cnt")).alias("neg_cnt"), F.col("msg").alias("lbl"))
            ).alias("best")
        )
        .select("id", F.col("best.lbl").alias("msg"))
    )


class LpaProgram(BspProgram):
    """Java semantics, deterministic tie-break."""

    name = "lpa"

    def initial_state(self, graph: Graph) -> DataFrame:
        # 'active' here means "changed last step → must broadcast".
        return graph.vertices.select(
            "id", F.col("id").alias("label"), F.lit(True).alias("active")
        )

    def messages(self, state: DataFrame, graph: Graph, ctx: SuperstepContext) -> DataFrame:
        return message_pass(
            state, graph, msg_col=F.col("label"), frontier_filter=F.col("active")
        )

    def combine(self, messages: DataFrame) -> DataFrame:
        return _argmax_min_label(messages)

    def update(self, state: DataFrame, inbox: DataFrame, ctx: SuperstepContext) -> DataFrame:
        new_label = F.coalesce(F.col("msg"), F.col("label"))
        return state.join(inbox, "id", "left").select(
            "id",
            new_label.alias("label"),
            (new_label != F.col("label")).alias("active"),
        )


class LpaSyncProgram(BspProgram):
    """Vermeer semantics: full recompute + oscillation guard. Expects the
    graph's edges to already be the both-direction multiset.

    ``fixed=True`` disables the convergence/oscillation halt so exactly
    ``max_supersteps`` rounds run — the oracle-comparable mode."""

    name = "lpa_sync"

    def __init__(self, fixed: bool = False):
        self.fixed = fixed

    def initial_state(self, graph: Graph) -> DataFrame:
        return graph.vertices.select(
            "id",
            F.col("id").alias("label"),
            F.col("id").alias("grandpa_label"),
            F.lit(1).alias("diff"),
            F.lit(1).alias("gdiff"),
        )

    def messages(self, state: DataFrame, graph: Graph, ctx: SuperstepContext) -> DataFrame:
        return message_pass(state, graph, msg_col=F.col("label"))

    def combine(self, messages: DataFrame) -> DataFrame:
        return _argmax_min_label(messages)

    def update(self, state: DataFrame, inbox: DataFrame, ctx: SuperstepContext) -> DataFrame:
        new_label = F.coalesce(F.col("msg"), F.col("label"))
        return state.join(inbox, "id", "left").select(
            "id",
            new_label.alias("label"),
            F.col("label").alias("grandpa_label"),
            (new_label != F.col("label")).cast("int").alias("diff"),
            (new_label != F.col("grandpa_label")).cast("int").alias("gdiff"),
        )

    def agg_exprs(self, ctx: SuperstepContext) -> dict[str, Any]:
        return {"diff_sum": F.sum("diff"), "grandpa_diff_sum": F.sum("gdiff")}

    def halt(self, ctx: SuperstepContext) -> bool:
        if self.fixed:
            return False
        if ctx.superstep < 2:
            return ctx.aggs["diff_sum"] == 0
        return ctx.aggs["diff_sum"] == 0 or ctx.aggs["grandpa_diff_sum"] == 0


def lpa(
    graph: Graph,
    max_supersteps: int = 10,
    method: str = "superstep",
    stride: int = 4,
    **engine_kwargs,
) -> DataFrame:
    """(id, label) — Java-semantics deterministic LPA (directed).

    ``method="stride"`` runs ``stride`` rounds per barrier (BspEngine's
    fused schedule: same per-round math, parity pinned by
    test_lpa_stride_parity); ``max_supersteps`` counts rounds under both
    methods. A stride run halts on the changed-vertex count alone: a
    round in which no label changed sends nothing, so the rounds after
    it are no-ops and need no message count."""
    if method not in ("superstep", "stride"):
        raise ValueError("lpa method must be 'superstep' or 'stride'")
    resume = engine_kwargs.pop("resume", False)
    if method == "stride":
        engine_kwargs.setdefault("count_messages", False)
    engine = BspEngine(
        graph,
        max_supersteps=max_supersteps,
        stride=stride if method == "stride" else 1,
        **engine_kwargs,
    )
    state, _ = engine.run(LpaProgram(), resume=resume)
    return state.select("id", "label")


def lpa_sync(
    graph: Graph, max_supersteps: int = 10, fixed: bool = False, **engine_kwargs
) -> DataFrame:
    """(id, label) — Vermeer-semantics synchronous LPA (undirected
    in+out multiset)."""
    resume = engine_kwargs.pop("resume", False)
    both = graph.edges.select("src", "dst").unionAll(
        graph.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    g = Graph(graph.vertices, both, graph.num_partitions).cache()
    engine = BspEngine(g, max_supersteps=max_supersteps, **engine_kwargs)
    state, _ = engine.run(LpaSyncProgram(fixed=fixed), resume=resume)
    # final state is engine-persisted/truncated; the both-direction edge
    # cache this call created is no longer needed
    g.unpersist()
    return state.select("id", "label")


def lpa_seeded(graph: Graph, seeds: DataFrame, rounds: int = 5) -> DataFrame:
    """Semi-supervised label propagation: ``seeds`` (id, label) carry
    FIXED labels; every other vertex recomputes, each synchronous round,
    the most frequent label among its symmetrized neighbors' current
    labels (NULL labels excluded; ties → smallest label, the same
    deterministic rule as LPA's ``_argmax_min_label``). Unreached
    vertices stay NULL.

    The classic community-seeding workflow (Zhu & Ghahramani 2002 shape,
    discretized): a handful of curated labels fan out over the link
    graph. Beyond-reference addition (SURVEY §2.10) — the reference's
    LPA (`LpaComputation.java`, `lpa.go`) has no fixed-seed mode.

    Scale shape per round: one E-row join against the CURRENT labeled
    set + the two-stage argmax aggregation (map-side combined), then a
    V-row left join to apply winners; state is localCheckpoint-truncated
    per round. Deterministic — the whole run replays in SQL (the oracle
    unrolls the rounds)."""
    sym = graph.symmetrized().edges.select("src", "dst")
    state = (
        graph.vertices.select("id")
        .join(seeds.select("id", F.col("label").cast("long").alias("label")), "id", "left")
        .select("id", "label", F.col("label").isNotNull().alias("seed"))
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        msgs = sym.join(
            state.where(F.col("label").isNotNull()).select(
                F.col("id").alias("src"), F.col("label").alias("msg")
            ),
            "src",
        ).select("dst", "msg")
        winners = _argmax_min_label(msgs).withColumnRenamed("msg", "_win")
        state, _ = barrier(
            state,
            state.join(winners, "id", "left")
            .select(
                "id",
                F.when(F.col("seed"), F.col("label"))
                .otherwise(F.coalesce(F.col("_win"), F.col("label")))
                .alias("label"),
                "seed",
            ),
        )
    return state.select("id", "label")
