"""Greedy graph coloring — speculative coloring with deterministic
conflict resolution (Gebremedhin–Manne style).

The distributed symmetry-breaking primitive: per round every uncolored
vertex PROPOSES the smallest color unused by its already-colored
neighbors (the greedy mex); a conflict — two adjacent uncolored
vertices proposing the same color — is resolved toward the higher
(priority, id) endpoint, the loser retries next round. Two adjacent
winners necessarily proposed different colors and a proposal never
equals a colored neighbor's color, so the partial coloring is proper
after every round.

Priorities are the portable md5-prefix integers used across the repo
(``('0x'||substr(md5(id),1,8))::BIGINT`` on the DuckDB side) with the
vertex id as tie-break — a strict total order, so the maximum-priority
vertex of every conflict cluster wins each round (guaranteed progress)
and the whole schedule is deterministic: a SQL oracle replays the
rounds bit-for-bit.

Chosen over classic Jones–Plassmann because JP's per-round independent
set collapses on hub-skewed graphs (every spoke of a hub is blocked by
the hub or by siblings-through-the-hub — measured ~3% of vertices
colored per round on the orders graph), while speculative proposals
color an entire hub's spoke set in one round (spokes are pairwise
non-adjacent, so they conflict with nobody): 12 rounds to full
convergence where JP needed ~60.

Physical shape per round: one join + map-side-combined ``collect_set``
gathers used neighbor colors, the mex is a native array expression
(``array_min(array_except(sequence(0, n), used))``), one sym-edge join
marks conflict losers, one anti-join picks winners, one join folds the
round into the (id, color, p) state — V rows, localCheckpointed with
the superseded cache released. No Python, no windows, no driver data;
everything hash-shuffles on vertex id, so partitioning is stable
across rounds and AQE reuses the exchanges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans.lineage import barrier


def _priority(col):
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")


def greedy_coloring(graph: Graph, max_rounds: int = 20) -> DataFrame:
    """(id, color) — speculative greedy coloring of the undirected view.

    Colors are dense small integers (a greedy coloring uses at most
    Δ+1). Vertices still uncolored after ``max_rounds`` keep color NULL;
    the budget is declared semantics, replayed by oracles — converged
    runs are unaffected (further rounds are no-ops).
    """
    sym = graph.symmetrized().edges  # (src, dst), both directions
    uncolored = F.count_if(F.col("color").isNull())
    state, (n_unc,) = barrier(
        None,
        graph.vertices.select(
            "id", F.lit(None).cast("int").alias("color"), _priority(F.col("id")).alias("p")
        ),
        uncolored,
    )
    empty = F.array().cast("array<int>")
    for _ in range(max_rounds):
        if n_unc == 0:
            break
        unc = state.where(F.col("color").isNull())
        # proposal: mex of already-colored neighbors' colors
        colored = state.where(F.col("color").isNotNull()).select(
            F.col("id").alias("dst"), F.col("color").alias("ncolor")
        )
        used = (
            unc.select(F.col("id").alias("src"))
            .join(sym, "src")
            .join(colored, "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.collect_set("ncolor").alias("used"))
        )
        ua = F.coalesce(F.col("used"), empty)
        cand = (
            unc.select("id", "p")
            .join(used, "id", "left")
            .select(
                "id",
                "p",
                F.array_min(
                    F.array_except(F.sequence(F.lit(0), F.size(ua)), ua)
                )
                .cast("int")
                .alias("cand"),
            )
        )
        # conflicts: adjacent equal proposals — lower (p, id) loses
        a = cand.select(
            F.col("id").alias("src"), F.col("cand").alias("ca"), F.col("p").alias("pa")
        )
        b = cand.select(
            F.col("id").alias("dst"), F.col("cand").alias("cb"), F.col("p").alias("pb")
        )
        losers = (
            a.join(sym, "src")
            .join(b, "dst")
            .where(
                (F.col("ca") == F.col("cb"))
                & (
                    (F.col("pb") > F.col("pa"))
                    | ((F.col("pb") == F.col("pa")) & (F.col("dst") > F.col("src")))
                )
            )
            .select(F.col("src").alias("id"))
            .distinct()
        )
        winners = cand.join(losers, "id", "left_anti").select(
            "id", F.col("cand").alias("newcolor")
        )
        state, (n_unc,) = barrier(
            state,
            state.join(winners, "id", "left")
            .select("id", F.coalesce("color", "newcolor").alias("color"), "p"),
            uncolored,
        )
    # state is the live localCheckpoint backing the result — the caller
    # consumes it; Spark reclaims the blocks when the DF is GC'd.
    return state.select("id", "color")
