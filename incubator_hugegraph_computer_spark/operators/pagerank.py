"""PageRank — both reference formulations, as BSP message passes.

1. ``pagerank`` — the Java Computer semantics, replicated exactly for
   1e-6 per-vertex parity (``computer-algorithm/.../pagerank/
   PageRank.java:63-100``):

     superstep 0:  rank = 1/N; vertices with out-edges send rank/outDeg
     superstep k:  rank = (danglingRank + Σmsgs) · (1−α) + α/N
                   rank /= cumulativeRank                 (PageRank.java:85-87)
     where  danglingRank  = Σ ranks of dangling vertices (prev step) / N
            cumulativeRank = Σ all ranks of the previous step
     stop when superstep > 1 and L1(rank − rank_prev) ≤ 1e-5
            (PageRank4Master.java:94-99; threshold at :35-37)
     α = page_rank.alpha = 0.15, the *teleport* probability.

2. ``pagerank_classic`` — the Vermeer pull formulation
   (``vermeer/algorithms/pagerank.go:56-192``), i.e. the textbook one:

     rank = (1−d)/N + d · (Σ in_rank/outDeg + danglingSum/N),  d = 0.85

   Equivalent to NetworkX ``pagerank`` and to (1) at convergence up to
   normalization; exposed separately because the fixed-iteration oracle
   queries and the NumPy test oracle use this closed form.

Where they run: on a graph with at most ``plans/local.LOCAL_EDGES``
vertices and edges, all three entry points run every superstep on the
driver over dense arrays (``plans/local.pagerank``), unless the run is
checkpointed: a Spark superstep's fixed cost is several jobs whatever
the graph's size. Each program's ``rank`` is its update formula, written
once as arithmetic that works on a ``Column`` and on an ``ndarray``, so
BspEngine and the driver kernel run the same formula. Checkpointed runs,
``method="stride"`` (a Spark schedule) and larger graphs run on
BspEngine, the scale path.

Scale notes: out-degrees are computed once and cached on the graph; the
per-superstep work is one co-partitioned join (state⋈edges on src, no
state shuffle) + one groupBy(dst).sum whose map-side partial aggregation
is the reference's sender-side combining (``DoubleValueSumCombiner`` in
the sort flush, ``SortManager.java:180-215``). All three driver scalars
(L1 diff, dangling mass, cumulative rank) come from a single agg pass.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans import local
from incubator_hugegraph_computer_spark.plans.bsp import (
    BspEngine,
    BspProgram,
    SuperstepContext,
    message_pass,
)

ALPHA_DEFAULT = 0.15  # teleport probability (PageRank.java:36)
L1_THRESHOLD_DEFAULT = 1e-5  # PageRank4Master.java:35-37
DAMPING_DEFAULT = 0.85  # vermeer pagerank.go damping


class _PageRankBase(BspProgram):
    # warm start: a previous (id, rank) table seeds the iteration instead
    # of the uniform vector. The Java update normalizes by the cumulative-
    # rank aggregator every superstep, so ANY positive seed converges to
    # the same fixed point — a near-converged seed (e.g. last crawl's
    # ranks after an edge delta) just gets there in far fewer supersteps.
    # Vertices absent from the seed (delta-introduced) start at 1/n.
    initial_ranks: DataFrame | None = None
    # edge column each message is multiplied by (pagerank_weighted)
    weight_col: str | None = None

    def initial_state(self, graph: Graph) -> DataFrame:
        n = graph.num_vertices()
        base = graph.out_degrees()
        if self.initial_ranks is None:
            return base.select(
                "id",
                "out_deg",
                F.lit(1.0 / n).alias("rank"),
                F.lit(0.0).alias("delta"),
            )
        prev = self.initial_ranks.select("id", F.col("rank").alias("_r0"))
        return base.join(prev, "id", "left").select(
            "id",
            "out_deg",
            F.coalesce(F.col("_r0"), F.lit(1.0 / n)).alias("rank"),
            F.lit(0.0).alias("delta"),
        )

    def messages(self, state: DataFrame, graph: Graph, ctx: SuperstepContext) -> DataFrame:
        return message_pass(
            state,
            graph,
            msg_col=F.col("rank") / F.col("out_deg"),
            frontier_filter=F.col("out_deg") > 0,
        )

    def combine(self, messages: DataFrame) -> DataFrame:
        return messages.groupBy(F.col("dst").alias("id")).agg(F.sum("msg").alias("msg"))

    def rank(self, msg, dangling, cum, n: int):
        """The rank update: plain arithmetic over the combined inbox
        ``msg``, the previous superstep's ``dangling`` and ``cum``
        aggregators and the vertex count ``n``. Its constants are Python
        floats, so the one formula serves BspEngine (``Column``s) and
        ``plans/local.pagerank`` (``ndarray``s)."""
        raise NotImplementedError

    def update(self, state: DataFrame, inbox: DataFrame, ctx: SuperstepContext) -> DataFrame:
        # the previous superstep's aggregators enter the plan as literals
        return self._rank_step(
            state,
            inbox,
            float(ctx.prev_aggs["dangling"]),
            float(ctx.prev_aggs["cum"]),
            ctx.num_vertices,
        )

    def _rank_step(self, state: DataFrame, inbox: DataFrame, dangling, cum, n: int) -> DataFrame:
        msg = F.coalesce(F.col("msg"), F.lit(0.0))
        return self._next_state(state, inbox, self.rank(msg, dangling, cum, n))

    @staticmethod
    def _next_state(state: DataFrame, inbox: DataFrame, new_rank: Column) -> DataFrame:
        """The superstep's vertex update: ``new_rank`` over state ⋈ inbox,
        plus the per-vertex L1 term the convergence aggregator sums."""
        return state.join(inbox, "id", "left").select(
            "id",
            "out_deg",
            new_rank.alias("rank"),
            F.abs(new_rank - F.col("rank")).alias("delta"),
        )

    def agg_exprs(self, ctx: SuperstepContext) -> dict[str, Any]:
        # The four PageRank aggregators (PageRank4Master.init registers
        # dangling count/mass, cumulative rank, L1 diff) in one pass.
        return {
            "cum": F.sum("rank"),
            "dangling": F.sum(F.when(F.col("out_deg") == 0, F.col("rank")).otherwise(0.0)),
            "l1": F.sum("delta"),
        }


class PageRankProgram(_PageRankBase):
    """Exact Java Computer semantics (teleport alpha, cumulative-rank
    normalization)."""

    name = "page_rank"

    def __init__(self, alpha: float = ALPHA_DEFAULT, l1_threshold: float = L1_THRESHOLD_DEFAULT):
        self.alpha = alpha
        self.l1_threshold = l1_threshold

    def rank(self, msg, dangling, cum, n: int):
        return ((dangling / n + msg) * (1.0 - self.alpha) + self.alpha / n) / cum

    def halt(self, ctx: SuperstepContext) -> bool:
        return ctx.superstep > 1 and ctx.aggs["l1"] <= self.l1_threshold


class PageRankStrideProgram(PageRankProgram):
    """Java PageRank with ``stride`` iterations unrolled per superstep.

    Identical per-iteration semantics to ``PageRankProgram`` — the only
    change is where the two driver scalars (dangling mass, cumulative
    rank) come from. The first unrolled hop reads them from the previous
    superstep's aggregators as usual; each further hop computes them
    IN-PLAN as a one-row aggregate over the intermediate state and
    broadcast-crossJoins it back, so ``stride`` full PageRank iterations
    execute inside ONE Spark action. The fixed per-superstep serial cost
    (driver planning + scheduling + the aggregator collect) is the
    Amdahl term that caps N→4N scaling efficiency (measured on WCC:
    stride=4 moved efficiency 0.706 → 0.968); this applies the same
    schedule to PageRank, whose supersteps are all-vertices-active and
    therefore pay the barrier cost on every one of the fixed 10
    iterations (bsp.max_super_step=10, AlgorithmTestBase.java:69-70).

    Convergence (L1 ≤ threshold, PageRank4Master.java:94-99) is checked
    at stride boundaries only, so a converging run may execute up to
    ``stride-1`` extra iterations — extra iterations only tighten the
    fixpoint, and fixed-budget runs split the budget exactly
    (``total_supersteps`` caps the unrolled count of the last stride).

    Default stride=2, NOT 4, on measurement: unlike WCC (whose hops
    nest no subqueries), every unrolled PageRank hop adds a broadcast
    scalar subquery, and those chains pay superlinearly — paired trials
    at 2.5M edges/local[8]: stride=2 beat per-superstep by ~35%
    (37.0s vs 58.5s, 47.1 vs 61.3, 14.0 vs 23.5) while stride=4 was
    consistently SLOWER than per-superstep (93.3, 57.4, 33.2). One
    nesting level per action captures the barrier savings; deeper
    unrolls drown them in broadcast-future scheduling."""

    def __init__(
        self,
        graph: Graph,
        alpha: float = ALPHA_DEFAULT,
        l1_threshold: float = L1_THRESHOLD_DEFAULT,
        stride: int = 2,
        total_supersteps: int = 10,
    ):
        super().__init__(alpha, l1_threshold)
        self.graph = graph
        self.stride = max(1, stride)
        self.total = total_supersteps
        self._scratch: list[DataFrame] = []

    def cleanup(self) -> None:
        for df in self._scratch:
            df.unpersist()
        self._scratch = []

    def update(self, state: DataFrame, inbox: DataFrame, ctx: SuperstepContext) -> DataFrame:
        # Previous superstep's intermediates are materialized by now.
        self.cleanup()
        n = ctx.num_vertices
        done_before = (ctx.superstep - 1) * self.stride
        iters_this = max(1, min(self.stride, self.total - done_before))
        cur = super().update(state, inbox, ctx)  # hop 1: driver scalars
        for _ in range(iters_this - 1):
            # cur feeds three consumers (scalar agg, message pass, the
            # update join) inside one action — persist once, lazily.
            cur = cur.persist()
            self._scratch.append(cur)
            aggs = self.agg_exprs(ctx)
            scal = cur.agg(
                aggs["dangling"].alias("_dangling"), aggs["cum"].alias("_cum")
            )
            inbox2 = self.combine(self.messages(cur, self.graph, ctx))
            cur = self._rank_step(
                cur.crossJoin(F.broadcast(scal)),
                inbox2,
                F.col("_dangling"),
                F.col("_cum"),
                n,
            )
        return cur

    def halt(self, ctx: SuperstepContext) -> bool:
        iters_done = min(ctx.superstep * self.stride, self.total)
        return iters_done > 1 and (
            ctx.aggs["l1"] <= self.l1_threshold or iters_done >= self.total
        )


class PageRankClassicProgram(_PageRankBase):
    """Vermeer / textbook damping formulation."""

    name = "page_rank_classic"

    def __init__(self, damping: float = DAMPING_DEFAULT, tol: float = 1e-10):
        self.damping = damping
        self.tol = tol

    def rank(self, msg, dangling, cum, n: int):
        return (1.0 - self.damping) / n + self.damping * (msg + dangling / n)

    def halt(self, ctx: SuperstepContext) -> bool:
        return ctx.superstep > 1 and ctx.aggs["l1"] <= self.tol


class PageRankWeightedProgram(PageRankClassicProgram):
    """Vermeer's ``pagerank.edge_weight_property`` mode
    (``vermeer/algorithms/pagerank.go:100-160``): each in-edge
    contribution is the out-degree-normalized rank *multiplied by the
    edge weight* — ``edgeRank = old[src]/outDeg(src) · w(src,dst)``
    (pagerank.go:144-155). The out-degree stays a plain edge COUNT (not
    a weight sum) and the dangling term keeps the unweighted
    ``damping/N · danglingSum`` shape (pagerank.go:96,158), exactly as
    the reference computes it.

    The weighted pass joins the raw edge table (which carries the
    weight column) rather than the CSR/salted adjacency — those packed
    forms drop edge properties by construction. Physical shape is the
    same SHUFFLE_HASH state⋈edges + map-side-combined groupBy(dst)."""

    name = "page_rank_weighted"

    def __init__(
        self,
        weight_col: str,
        damping: float = DAMPING_DEFAULT,
        tol: float = 1e-10,
    ):
        super().__init__(damping, tol)
        self.weight_col = weight_col

    def messages(self, state: DataFrame, graph: Graph, ctx: SuperstepContext) -> DataFrame:
        return message_pass(
            state,
            graph.edges,  # plain-edge path: keeps the weight column in scope
            msg_col=F.col("rank") / F.col("out_deg") * F.col(self.weight_col),
            frontier_filter=F.col("out_deg") > 0,
        )


def _run(
    graph: Graph, program: _PageRankBase, max_supersteps: int, **engine_kwargs
) -> DataFrame:
    """(id, rank) after at most ``max_supersteps`` of ``program``: on the
    driver when the graph fits and the run is not checkpointed (durable
    state and resume belong to BspEngine), else on BspEngine."""
    if engine_kwargs.get("checkpoint_dir") is None and local.fits(graph.cache()):
        return local.pagerank(graph, program, max_supersteps)[0]
    resume = engine_kwargs.pop("resume", False)
    engine = BspEngine(graph, max_supersteps=max_supersteps, **engine_kwargs)
    state, _ = engine.run(program, resume=resume)
    return state.select("id", "rank")


def pagerank(
    graph: Graph,
    alpha: float = ALPHA_DEFAULT,
    max_supersteps: int = 10,
    l1_threshold: float = L1_THRESHOLD_DEFAULT,
    method: str = "superstep",
    stride: int = 2,
    initial_ranks: DataFrame | None = None,
    **engine_kwargs,
) -> DataFrame:
    """(id, rank) under exact HugeGraph Computer semantics.

    ``method="stride"`` runs the same per-iteration math with ``stride``
    iterations fused into each Spark action (scalars computed in-plan) —
    the scaling-efficiency schedule; it always runs on BspEngine, while
    ``method="superstep"`` runs on the driver when the graph fits
    ``plans/local.LOCAL_EDGES``. Output parity between the two is pinned
    by test_pagerank_stride_parity.

    ``initial_ranks``: optional (id, rank) warm-start seed (must be
    positive) — with ``l1_threshold`` convergence this is the delta-
    ingest path: re-rank after an edge batch from the previous ranks in
    a handful of supersteps instead of from scratch (tested:
    test_pagerank_warm_start)."""
    if method == "superstep":
        program = PageRankProgram(alpha, l1_threshold)
        program.initial_ranks = initial_ranks
        return _run(
            graph,
            program,
            max_supersteps=max_supersteps,
            **engine_kwargs,
        )
    if method != "stride":
        raise ValueError("pagerank method must be 'superstep' or 'stride'")
    program = PageRankStrideProgram(
        graph, alpha, l1_threshold, stride=stride, total_supersteps=max_supersteps
    )
    program.initial_ranks = initial_ranks
    engine_steps = -(-max_supersteps // program.stride)  # ceil
    resume = engine_kwargs.pop("resume", False)
    engine_kwargs.setdefault("count_messages", False)
    engine = BspEngine(graph, max_supersteps=engine_steps, **engine_kwargs)
    state, _ = engine.run(program, resume=resume)
    out = state.select("id", "rank")
    program.cleanup()
    return out


def pagerank_classic(
    graph: Graph,
    damping: float = DAMPING_DEFAULT,
    max_iterations: int = 50,
    tol: float = 1e-10,
    initial_ranks: DataFrame | None = None,
    **engine_kwargs,
) -> DataFrame:
    """(id, rank) under the classic damping formulation. With ``tol=0``
    this runs exactly ``max_iterations`` supersteps — the deterministic
    fixed-iteration mode the DuckDB oracle mirrors.

    ``initial_ranks``: optional (id, rank) warm-start seed — the
    crawl-delta path: after an edge batch lands, continue from the
    previous crawl's ranks instead of the uniform vector; vertices the
    delta introduced (absent from the seed) start at 1/n of the NEW
    vertex set."""
    program = PageRankClassicProgram(damping, tol)
    program.initial_ranks = initial_ranks
    return _run(
        graph,
        program,
        max_supersteps=max_iterations,
        **engine_kwargs,
    )


def pagerank_classic_trace(
    graph: Graph,
    damping: float = DAMPING_DEFAULT,
    iterations: int = 5,
) -> DataFrame:
    """Per-superstep AGGREGATOR trace of a fixed-iteration classic-PR
    run — (superstep, l1, dangling, cum), one row per iteration.

    The reference's master registers exactly these values every
    superstep (PageRank4Master.java: dangling mass, cumulative rank,
    L1 diff drive the convergence rule and the run log); this surfaces
    the engine's equivalents (BspEngine ctx.stats aggregator column —
    the same values checkpointed in aggs.json) as an oracled query, so
    the aggregators themselves are value-checked, not just the final
    ranks. Floats rounded to 6 dp on both sides."""
    program = PageRankClassicProgram(damping, tol=0.0)
    engine = BspEngine(graph, max_supersteps=iterations, count_messages=False)
    state, ctx = engine.run(program)
    rows = [
        (
            k,
            float(m["aggregators"]["l1"]),
            float(m["aggregators"]["dangling"]),
            float(m["aggregators"]["cum"]),
        )
        for k, m in enumerate(ctx.stats, start=1)
    ]
    out = graph.spark.createDataFrame(
        rows, "superstep int, l1 double, dangling double, cum double"
    ).select(
        "superstep",
        # round in Spark (HALF_UP, matching DuckDB ROUND) — python's
        # round() is banker's and would mismatch on .xxxxxx5 boundaries
        F.round("l1", 6).alias("l1"),
        F.round("dangling", 6).alias("dangling"),
        F.round("cum", 6).alias("cum"),
    )
    state.unpersist()
    return out


def pagerank_weighted(
    graph: Graph,
    weight_col: str = "weight",
    damping: float = DAMPING_DEFAULT,
    max_iterations: int = 50,
    tol: float = 1e-10,
    **engine_kwargs,
) -> DataFrame:
    """(id, rank) with per-edge weights — Vermeer's
    ``pagerank.edge_weight_property`` option (pagerank.go:100-160).
    ``tol=0`` runs exactly ``max_iterations`` supersteps (the
    deterministic fixed-iteration mode the DuckDB oracle mirrors)."""
    if weight_col not in graph.edges.columns:
        raise ValueError(
            f"unknown edge weighted property: {weight_col}"  # pagerank.go:104
        )
    return _run(
        graph,
        PageRankWeightedProgram(weight_col, damping, tol),
        max_supersteps=max_iterations,
        **engine_kwargs,
    )
