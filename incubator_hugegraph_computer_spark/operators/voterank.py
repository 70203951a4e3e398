"""VoteRank — influence-maximization seed selection.

Zhang, Lü et al., "Identifying a set of influential spreaders in
complex networks" (Scientific Reports 2016). Every vertex starts with
voting ability 1; in each of K elections the vertex with the highest
neighbor-vote total is elected, its own ability drops to 0 (it stops
voting), and each of its neighbors loses δ = 1/⟨k⟩ ability (floored at
0), suppressing seeds that would cover the same neighborhood. The
result is a diverse top-K spreader set — the standard seed-selection
primitive for crawl prioritization / information-spread studies on
link graphs, complementing the global rankings (pagerank, opic,
hostrank) that pick redundant adjacent hubs.

Not in the reference suite; the natural companion to
``operators/crawl.py``'s priority feeds (the job CLI accepts any
(id, value) frame as a crawl priority).

Determinism / oracle parity: scores are rounded to 6 dp before the
argmax (declared semantics — removes float summation-order ambiguity
from the election), ties break to the lowest id, and δ is one double
division of two exact counts, identical in both engines. Abilities are
updated by per-vertex sequential subtraction (same order both sides).

**Batched elections, exactly sequential semantics.** Electing w only
changes the scores of vertices within distance 2 of w (w's neighbors
lose w's vote; neighbors' neighbors lose suppressed ability), and every
within-round score change is a DECREASE. So after one vote pass, the
candidates can be accepted in descending (score, id) order as long as
each accepted candidate is at distance > 2 from all candidates accepted
earlier in the batch — each such candidate provably holds the true
argmax at its turn — and the batch must STOP at the first conflicting
candidate (a skipped-over higher score could still dominate). This
elects up to ``batch`` seeds per driver round-trip with output
bit-identical to the one-at-a-time loop (``batch=1`` degenerates to
it); the SQL oracle replays the sequential semantics unchanged.

Suppression for a batch applies in one pass: accepted seeds are
pairwise non-adjacent, so a(w) := 0 commutes with neighbor decrements,
and repeated floored subtraction collapses (max(0, max(0, a-δ)-δ) =
max(0, a-2δ)) to a := max(0, a - δ·#elected-neighbors).

Scale shape per round: one join-aggregate over the sym edge table
(message_pass's shuffle shape) for the vote totals, a
TakeOrderedAndProject(batch) election, one candidate-set distance<=2
probe (two joins against the ≤batch-row broadcast candidate list), and
a broadcast join for the ability update. Driver rounds drop from K to
~K/batch on graphs whose top spreaders are spread out (the point of
VoteRank); each round's state passes one plans/lineage.barrier (one
stored copy, then the previous round's state is released) so per-round
cost stays flat at any K.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans.lineage import barrier, release


def _conflict_pairs(sym: DataFrame, cand_ids: list[int]) -> set[tuple[int, int]]:
    """Unordered candidate pairs at distance <= 2 in ``sym`` (symmetric
    edge frame). Candidate lists are election-batch sized (tens), so
    both probes broadcast the candidate frame."""
    spark = sym.sparkSession
    cand = F.broadcast(
        spark.createDataFrame([(int(c),) for c in cand_ids], "cid long")
    )
    # distance 1: a sym edge with both ends candidates
    d1 = (
        sym.join(cand.withColumnRenamed("cid", "src"), "src", "left_semi")
        .join(cand.withColumnRenamed("cid", "dst"), "dst", "left_semi")
        .select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
    )
    # distance 2: two candidates sharing any neighbor
    inc = sym.join(cand.withColumnRenamed("cid", "src"), "src", "left_semi")
    d2 = (
        inc.select(F.col("dst").alias("mid"), F.col("src").alias("u"))
        .join(inc.select(F.col("dst").alias("mid"), F.col("src").alias("v")), "mid")
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
    )
    return {
        (r["u"], r["v"])
        for r in d1.unionAll(d2).distinct().collect()
    }


def voterank(graph: Graph, k: int = 10, batch: int | None = None) -> DataFrame:
    """(sel_rank, id, score) — the K elected spreaders in election
    order with their (rounded) winning vote totals. ``batch`` bounds
    elections per driver round-trip; any value yields output identical
    to ``batch=1`` (see module docstring). Default: ``k`` — a
    conflict-free top-k prefix then elects in ONE round-trip, and the
    stop-at-first-conflict rule keeps any batch size exact."""
    if batch is None:
        batch = k
    sym, (n_sym,) = barrier(None, graph.symmetrized().edges)
    n_vertices = graph.vertices.count()
    if n_sym == 0:
        return graph.vertices.sparkSession.createDataFrame(
            [], "sel_rank int, id long, score double"
        )
    delta = float(n_vertices) / float(n_sym)  # 1 / average degree
    batch = max(1, batch)

    ab, _ = barrier(
        None, graph.vertices.select("id", F.lit(1.0).alias("a"), F.lit(False).alias("el"))
    )

    picks: list[tuple[int, int, float]] = []
    while len(picks) < k:
        want = k - len(picks)
        votes = (
            sym.join(ab.select(F.col("id").alias("dst"), "a"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("a").alias("s"))
        )
        cand = (
            ab.where(~F.col("el"))
            .join(votes, "id", "left")
            .select("id", F.round(F.coalesce("s", F.lit(0.0)), 6).alias("sc"))
        )
        top = cand.orderBy(F.desc("sc"), F.asc("id")).limit(min(batch, want)).collect()
        if not top:
            break
        if len(top) > 1:
            conflicts = _conflict_pairs(sym, [r["id"] for r in top])
        else:
            conflicts = set()
        accepted: list[tuple[int, int, float]] = []
        acc_ids: list[int] = []
        for r in top:
            cid = r["id"]
            if any(
                (min(cid, p), max(cid, p)) in conflicts for p in acc_ids
            ):
                break  # a prior election may have lowered this score — recompute
            accepted.append((len(picks) + len(accepted) + 1, cid, r["sc"]))
            acc_ids.append(cid)
        picks.extend(accepted)
        if len(picks) >= k:
            break
        elected = F.broadcast(
            graph.spark.createDataFrame([(int(c),) for c in acc_ids], "eid long")
        )
        # #elected neighbors per vertex (seeds are pairwise non-adjacent;
        # countDistinct guards against parallel sym edges double-charging δ)
        ncnt = (
            sym.join(elected.withColumnRenamed("eid", "src"), "src", "left_semi")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.count_distinct("src").alias("_n"))
        )
        won = elected.select(F.col("eid").alias("id"), F.lit(1).alias("_w"))
        is_winner = F.col("_w").isNotNull()
        ab, _ = barrier(
            ab,
            # no broadcast hint on ncnt: a hub seed's neighbor set can be
            # arbitrarily large at scale — let AQE pick the strategy
            ab.join(ncnt, "id", "left")
            .join(F.broadcast(won), "id", "left")
            .select(
                "id",
                F.when(is_winner, F.lit(0.0))
                .when(
                    F.col("_n").isNotNull(),
                    F.greatest(F.lit(0.0), F.col("a") - F.lit(delta) * F.col("_n")),
                )
                .otherwise(F.col("a"))
                .alias("a"),
                (F.col("el") | is_winner).alias("el"),
            ),
        )
    release(sym)
    release(ab)
    return graph.vertices.sparkSession.createDataFrame(
        picks, "sel_rank int, id long, score double"
    )
