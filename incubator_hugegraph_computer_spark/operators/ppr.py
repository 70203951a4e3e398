"""Personalized PageRank — source-seeded teleport.

Reference: ``vermeer/algorithms/personalized_pagerank.go`` (154 LoC):
teleport mass and dangling mass return to the source vertex instead of
being spread uniformly:

    rank(v) = (1-d)·[v = src] + d·(Σ in_rank/outDeg + dangling·[v = src])

Same join-aggregate superstep as PageRank; only the update expression
differs.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.operators.pagerank import _PageRankBase
from incubator_hugegraph_computer_spark.plans.bsp import BspEngine, SuperstepContext
from incubator_hugegraph_computer_spark.plans.lineage import barrier


class PprProgram(_PageRankBase):
    name = "ppr"

    def __init__(self, source: int, damping: float = 0.85, tol: float = 0.0):
        self.source = source
        self.damping = damping
        self.tol = tol

    def initial_state(self, graph: Graph) -> DataFrame:
        return graph.out_degrees().select(
            "id",
            "out_deg",
            F.when(F.col("id") == self.source, 1.0).otherwise(0.0).alias("rank"),
            F.lit(0.0).alias("delta"),
        )

    def update(self, state: DataFrame, inbox: DataFrame, ctx: SuperstepContext) -> DataFrame:
        is_src = (F.col("id") == self.source).cast("double")
        new_rank = (
            F.lit(1.0 - self.damping) * is_src
            + F.lit(self.damping)
            * (
                F.coalesce(F.col("msg"), F.lit(0.0))
                + F.lit(float(ctx.prev_aggs["dangling"])) * is_src
            )
        )
        return self._next_state(state, inbox, new_rank)

    def halt(self, ctx: SuperstepContext) -> bool:
        return self.tol > 0 and ctx.superstep > 1 and ctx.aggs["l1"] <= self.tol


def ppr(
    graph: Graph,
    source: int,
    damping: float = 0.85,
    max_iterations: int = 20,
    tol: float = 0.0,
    **engine_kwargs,
) -> DataFrame:
    """(id, rank) personalized to ``source``. tol=0 → exactly
    max_iterations supersteps (oracle-comparable fixed-iteration mode)."""
    resume = engine_kwargs.pop("resume", False)
    engine = BspEngine(graph, max_supersteps=max_iterations, **engine_kwargs)
    state, _ = engine.run(PprProgram(source, damping, tol), resume=resume)
    return state.select("id", "rank")


def ppr_sweep(
    graph: Graph,
    source: int,
    damping: float = 0.85,
    max_iterations: int = 5,
    sweep_max: int = 64,
    **engine_kwargs,
) -> DataFrame:
    """(pos, id, phi) — Andersen–Chung–Lang local clustering sweep cut
    (ACL, FOCS'06): run PPR from ``source``, order the touched vertices
    by degree-normalized score rank/deg descending, and report the
    conductance φ(S_p) of every prefix S_p of that ordering. The argmin
    prefix is the local community of the seed; the whole curve is
    returned so callers can apply their own stopping rule.

    Conductance over the symmetrized graph: φ(S) = cut(S) /
    min(vol(S), vol(V)−vol(S)), cut counting undirected edges with one
    endpoint in S, vol(S) = Σ degrees. Computed incrementally — adding
    the vertex at position p changes the cut by deg(p) − 2·internal(p),
    where internal(p) counts sym-edges from p to earlier positions — so
    one bounded join replaces per-prefix recomputation.

    Determinism / oracle parity: the sweep key is ROUND(rank, 6)/deg
    with id tie-break (both engines compute the division on identical
    rounded inputs, so the ordering is total and bit-identical); cut and
    vol are integers, so φ is a single identical double division.

    Scale shape: PPR mass is local by construction (only the
    ``max_iterations``-hop ball of the seed has rank > 0), so the
    rank>0 candidate set is small regardless of graph size; the top
    ``sweep_max`` of it comes out of a TakeOrdered (no global sort),
    and every later join broadcasts that parameter-sized sweep frame.
    The two windows run over ≤ sweep_max rows. The one full-size stages
    are the PPR supersteps themselves and one degree aggregation.
    Reference analogue: vermeer/algorithms/personalized_pagerank.go
    (the PPR core); the sweep stage is the standard local-clustering
    read-out the reference leaves to callers.
    """
    from pyspark.sql import Window

    r = ppr(
        graph, source, damping=damping, max_iterations=max_iterations,
        tol=0.0, **engine_kwargs,
    )
    sym = graph.symmetrized().edges
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    vol_total = sym.count()  # one scalar — the graph's total volume
    cand = (
        r.where(F.col("rank") > 0)
        .select("id", F.round("rank", 6).alias("rk"))
        .join(deg, "id")
        .withColumn("score", F.col("rk") / F.col("deg"))
    )
    # TakeOrderedAndProject → a parameter-sized frame; the row_number
    # window below therefore runs on ≤ sweep_max rows (not a scale risk)
    top = cand.orderBy(F.desc("score"), F.asc("id")).limit(sweep_max)
    w_pos = Window.orderBy(F.desc("score"), F.asc("id"))
    sweep = top.withColumn("pos", F.row_number().over(w_pos).cast("long")).select(
        "pos", "id", "deg"
    )
    sweep = sweep.localCheckpoint(eager=True)  # ≤ sweep_max rows, reused 3×
    internal = (
        sym.join(
            F.broadcast(sweep.select(F.col("id").alias("src"), F.col("pos").alias("p_src"))),
            "src",
        )
        .join(
            F.broadcast(sweep.select(F.col("id").alias("dst"), F.col("pos").alias("p_dst"))),
            "dst",
        )
        .where(F.col("p_dst") < F.col("p_src"))
        .groupBy(F.col("p_src").alias("pos"))
        .agg(F.count(F.lit(1)).alias("internal"))
    )
    w_cum = Window.orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        sweep.join(internal, "pos", "left")
        .withColumn("_i", F.coalesce(F.col("internal"), F.lit(0)))
        .withColumn("vol", F.sum("deg").over(w_cum))
        .withColumn("cut", F.sum(F.col("deg") - 2 * F.col("_i")).over(w_cum))
    )
    denom = F.least(F.col("vol"), F.lit(vol_total) - F.col("vol"))
    phi = F.when(denom > 0, F.col("cut").cast("double") / denom.cast("double"))
    return curve.select("pos", "id", F.round(phi, 6).alias("phi"))


def ppr_batch(
    graph: Graph,
    seeds: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Batched multi-source personalized PageRank — (seed, id, rank)
    for every (seed, vertex) pair with rank > 0 after ``iterations``
    fixed supersteps. ``seeds``: a one-column (seed) DataFrame.

    The landmark-PPR building block (proximity features, personalized
    search, seed-set expansion): instead of |S| sequential PPR runs,
    ONE iteration space keyed by (seed, id) runs all sources
    simultaneously — the classic batching trick that turns |S| barrier
    sequences into one, cutting superstep count |S|-fold (the same
    argument as the stride schedules in BENCH.md, applied across
    queries instead of within one).

    State is SPARSE: only (seed, id) pairs with nonzero rank
    materialize (rank mass reaches a vertex only along edges, so
    support = reached set). Per superstep: one |E|⋈|state| hash join
    (message pass), one per-seed dangling aggregate (map-side
    combined, |S| rows), one support union. Per-vertex allclose to the
    sequential ``ppr`` at every seed by construction — identical
    recurrence, identical float order class.

    Scale: state rows ≤ Σ_s |reach_s|; for hub-free seeds this stays
    near |S|·avg-reach. Skew concentrates on (seed, hub) rows — AQE
    skew-join handles the message pass exactly as for single-source.
    """
    e = graph.edges.select("src", "dst").localCheckpoint(eager=True)
    deg = e.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("outdeg"))
    seeds = seeds.select(F.col(seeds.columns[0]).alias("seed")).localCheckpoint(
        eager=True
    )
    state = seeds.select("seed", F.col("seed").alias("id"), F.lit(1.0).alias("rank"))
    for _ in range(iterations):
        wd = state.join(deg, "id", "left")
        msg = (
            wd.where(F.col("outdeg").isNotNull())
            .join(e, wd["id"] == e["src"])
            .groupBy("seed", F.col("dst").alias("id"))
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("s"))
        )
        dang = seeds.join(
            wd.where(F.col("outdeg").isNull()).groupBy("seed").agg(
                F.sum("rank").alias("dm")
            ),
            "seed",
            "left",
        ).select("seed", F.coalesce("dm", F.lit(0.0)).alias("dm"))
        sup = (
            msg.select("seed", "id")
            .union(seeds.select("seed", F.col("seed").alias("id")))
            .distinct()
        )
        is_seed = (F.col("id") == F.col("seed")).cast("double")
        state, _ = barrier(
            state,
            sup.join(msg, ["seed", "id"], "left")
            .join(dang, "seed")
            .select(
                "seed",
                "id",
                (
                    F.lit(1.0 - damping) * is_seed
                    + F.lit(damping)
                    * (F.coalesce("s", F.lit(0.0)) + F.col("dm") * is_seed)
                ).alias("rank"),
            ),
        )
    return state.where(F.col("rank") > 0)


def ppr_push(
    graph: Graph,
    source: int,
    eps: float = 1e-4,
    alpha: float = 0.15,
    rounds: int = 8,
) -> DataFrame:
    """(id, p, r) — Andersen-Chung-Lang forward-push personalized
    PageRank: estimate p plus residual r with the invariant
    ppr(s) = p + Σ_v r(v)·ppr_v applied SYNCHRONOUSLY — every round
    pushes ALL vertices whose residual exceeds eps·outdeg at once:

        p(u)  += α·r(u)                        for u in the push set H
        r'(v) += (1−α)·r(u)/outdeg(u)          per edge (u,v), u ∈ H
        r(u)   = kept only for u ∉ H (+ incoming pushes)

    Dangling pushes return their (1−α) mass to the source (the same
    dangling rule as ``ppr``). THE work-efficient local primitive:
    touched state stays proportional to the support of the answer
    (O(1/(ε·α)) mass-bearing vertices), not to |V| — at 10¹² edges a
    single-seed query runs in frontier-sized rounds while power
    iteration would sweep the world. ``rounds`` is declared semantics
    replayed by the oracle; the push threshold compares the residual
    ROUNDED to 9 dp (the VoteRank round-before-compare rule) so the
    set membership is ULP-flip-free across engines.
    """
    e = graph.edges.select("src", "dst").localCheckpoint(eager=True)
    deg = e.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("outdeg"))
    state, _ = barrier(
        None,
        graph.vertices.where(F.col("id") == source).select(
            "id", F.lit(0.0).alias("p"), F.lit(1.0).alias("r")
        ),
    )
    for _ in range(rounds):
        st = state.join(deg, "id", "left")
        push = F.round(F.col("r"), 9) > F.lit(eps) * F.coalesce(
            "outdeg", F.lit(1)
        )
        hset = st.where(push)
        keep = st.where(~push).select("id", "p", "r")
        # pushed vertices: estimate grows, residual leaves
        upd = hset.select("id", (F.col("p") + F.lit(alpha) * F.col("r")).alias("p"))
        # residual flow along edges (dangling -> source)
        flow = (
            hset.where(F.col("outdeg").isNotNull())
            .join(e, hset["id"] == e["src"])
            .groupBy(F.col("dst").alias("id"))
            .agg(
                F.sum(F.lit(1.0 - alpha) * F.col("r") / F.col("outdeg")).alias(
                    "dr"
                )
            )
        )
        dang = hset.where(F.col("outdeg").isNull()).agg(
            F.coalesce(F.sum(F.lit(1.0 - alpha) * F.col("r")), F.lit(0.0)).alias(
                "ddr"
            )
        )
        dflow = (
            graph.vertices.where(F.col("id") == source)
            .crossJoin(F.broadcast(dang))  # one-row scalar
            .select("id", F.col("ddr").alias("dr2"))
        )
        sup = (
            keep.select("id")
            .union(upd.select("id"))
            .union(flow.select("id"))
            .union(dflow.select("id"))
            .distinct()
        )
        # the lineage discipline of plans/lineage.barrier: one stored
        # copy per round, then the previous round's state is released.
        # Chained EAGER localCheckpoints accumulate in the driver and hit
        # a measured 2x-per-round wall from ~16 rounds (OOM by ~60);
        # this shape stays flat indefinitely.
        state, _ = barrier(
            state,
            sup.join(keep, "id", "left")
            .join(upd.withColumnRenamed("p", "p2"), "id", "left")
            .join(flow, "id", "left")
            .join(dflow, "id", "left")
            .select(
                "id",
                (
                    F.coalesce("p", F.lit(0.0)) + F.coalesce("p2", F.lit(0.0))
                ).alias("p"),
                (
                    F.coalesce("r", F.lit(0.0))
                    + F.coalesce("dr", F.lit(0.0))
                    + F.coalesce("dr2", F.lit(0.0))
                ).alias("r"),
            ),
        )
    return state.select(
        "id", F.round("p", 6).alias("p"), F.round("r", 6).alias("r")
    ).where((F.col("p") > 0) | (F.col("r") > 0))
