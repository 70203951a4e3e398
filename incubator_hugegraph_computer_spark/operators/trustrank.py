"""TrustRank — seed-set-personalized PageRank for web-spam demotion.

Gyöngyi, Garcia-Molina & Pedersen, "Combating Web Spam with TrustRank"
(VLDB 2004): start from a small human-vetted seed set of trusted pages
and propagate trust along out-links with decay d; teleport and
dangling mass return to the seed set (uniformly) instead of to all
pages:

    rank(v) = (1-d)·s(v) + d·(Σ in_rank/outDeg + dangling·s(v))

with s(v) = 1/|S| for seeds, 0 otherwise — exactly the reference's
personalized-PageRank recursion (``vermeer/algorithms/
personalized_pagerank.go``) generalized from one source to a seed SET.
Anti-TrustRank (spam mass) is the same recursion on the reversed graph
from a known-bad seed set — pass ``graph.reversed()`` style edges.

Beyond-reference addition (SURVEY.md §2.10). The seed set is a literal
list (a trust whitelist is small by definition, so it rides the plan
as a literal IN — no extra join); everything else reuses the PageRank
superstep: one E-row message join + map-side-combined sum + V-row
update, scalars via the one-aggregate-per-superstep pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.operators.pagerank import _PageRankBase
from incubator_hugegraph_computer_spark.plans.bsp import BspEngine, SuperstepContext


class TrustRankProgram(_PageRankBase):
    name = "trustrank"

    def __init__(self, seeds: list[int], damping: float = 0.85, tol: float = 0.0):
        if not seeds:
            raise ValueError("trustrank needs a non-empty seed set")
        self.seeds = sorted(set(seeds))
        self.damping = damping
        self.tol = tol

    def _seed_weight(self):
        return F.when(
            F.col("id").isin(self.seeds), F.lit(1.0 / len(self.seeds))
        ).otherwise(F.lit(0.0))

    def initial_state(self, graph: Graph) -> DataFrame:
        return graph.out_degrees().select(
            "id",
            "out_deg",
            self._seed_weight().alias("rank"),
            F.lit(0.0).alias("delta"),
        )

    def update(self, state: DataFrame, inbox: DataFrame, ctx: SuperstepContext) -> DataFrame:
        sw = self._seed_weight()
        new_rank = (
            F.lit(1.0 - self.damping) * sw
            + F.lit(self.damping)
            * (
                F.coalesce(F.col("msg"), F.lit(0.0))
                + F.lit(float(ctx.prev_aggs["dangling"])) * sw
            )
        )
        return self._next_state(state, inbox, new_rank)

    def halt(self, ctx: SuperstepContext) -> bool:
        return self.tol > 0 and ctx.superstep > 1 and ctx.aggs["l1"] <= self.tol


def trustrank(
    graph: Graph,
    seeds: list[int],
    damping: float = 0.85,
    max_iterations: int = 20,
    tol: float = 0.0,
    **engine_kwargs,
) -> DataFrame:
    """(id, rank) — trust propagated from the seed set. tol=0 → exactly
    max_iterations supersteps (oracle-comparable fixed-iteration mode)."""
    resume = engine_kwargs.pop("resume", False)
    engine = BspEngine(graph, max_supersteps=max_iterations, **engine_kwargs)
    state, _ = engine.run(TrustRankProgram(seeds, damping, tol), resume=resume)
    return state.select("id", "rank")


def spam_mass(
    graph: Graph,
    trusted_seeds: list[int],
    damping: float = 0.85,
    max_iterations: int = 20,
    **engine_kwargs,
) -> DataFrame:
    """(id, pagerank, trust, spam_mass) — relative spam mass
    (Gyöngyi et al. 2006): the fraction of a page's PageRank NOT
    accounted for by trust flow, ``(pr - trust/Σtrust·Σpr) / pr``
    expressed on matched scales by sum-normalizing both vectors.
    High spam mass + high rank = spam candidate."""
    from incubator_hugegraph_computer_spark.operators.pagerank import pagerank_classic

    # both runs read the graph: cache it once around them, and release
    # it after if the caller had not cached it
    cached = graph.is_cached
    graph.cache()
    try:
        pr = pagerank_classic(graph, max_iterations=max_iterations, tol=0.0, **engine_kwargs)
        tr = trustrank(
            graph, trusted_seeds, damping=damping, max_iterations=max_iterations,
            tol=0.0, **engine_kwargs,
        )
    finally:
        if not cached:
            graph.unpersist()
    joined = pr.withColumnRenamed("rank", "pagerank").join(
        tr.withColumnRenamed("rank", "trust"), "id"
    )
    sums = joined.agg(
        F.sum("pagerank").alias("_sp"), F.sum("trust").alias("_st")
    )
    return (
        joined.crossJoin(F.broadcast(sums))
        .select(
            "id",
            "pagerank",
            "trust",
            F.when(
                F.col("pagerank") > 0,
                (F.col("pagerank") / F.col("_sp") - F.col("trust") / F.col("_st"))
                / (F.col("pagerank") / F.col("_sp")),
            ).alias("spam_mass"),
        )
    )
