"""K-truss decomposition — edge-support peeling.

The edge-level analogue of k-core (``operators/kcore.py``, reference
``computer-algorithm/.../community/kcore/Kcore.java:31-122``): the
k-truss is the maximal subgraph in which every edge participates in at
least k-2 triangles. Not in the reference suite, but the standard next
rung on its cohesion ladder (degree → k-core → k-truss) and the usual
dense-community primitive on link graphs.

Physical shape per peel round:

  1. per-edge triangle support via the SAME degree-oriented wedge join
     as ``operators/triangle_count.py`` (work O(Σ deg^{3/2}), no
     neighbor-set broadcast) — each triangle charges its 3 canonical
     edges, one groupBy(a, b)
  2. drop edges with support < k-2; survivors localCheckpoint (lineage
     truncated every round, like the k-core peel)
  3. stop at fixpoint (edge count stable) or after ``max_rounds``
     (fixed-round mode for oracle comparability — extra rounds past the
     fixpoint are no-ops, so an early-stopped run equals the unrolled
     N-round oracle)

Survivors shrink monotonically; AQE coalesces late rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.operators.triangle_count import undirected_edges
from incubator_hugegraph_computer_spark.plans.lineage import barrier, release


def _support(und: DataFrame) -> DataFrame:
    """(a, b, sup) — triangle count per canonical edge, for edges in at
    least one triangle of the graph ``und`` (canonical a < b rows)."""
    deg = (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("deg_b"))
    ranked = und.join(da, "a").join(db, "b")
    fwd = F.struct(F.col("deg_a"), F.col("a")) < F.struct(F.col("deg_b"), F.col("b"))
    oriented = ranked.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(fwd, F.col("deg_b")).otherwise(F.col("deg_a")).alias("dst_deg"),
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(e2, F.col("e1.src") == F.col("e2.src")).where(
        F.struct(F.col("e1.dst_deg"), F.col("e1.dst"))
        < F.struct(F.col("e2.dst_deg"), F.col("e2.dst"))
    )
    closing = oriented.select(F.col("src").alias("c_src"), F.col("dst").alias("c_dst"))
    tri = wedges.join(
        closing,
        (F.col("e1.dst") == F.col("c_src")) & (F.col("e2.dst") == F.col("c_dst")),
        "left_semi",
    ).select(
        F.col("e1.src").alias("v1"), F.col("e1.dst").alias("v2"), F.col("e2.dst").alias("v3")
    )
    pair = lambda x, y: F.struct(F.least(x, y).alias("a"), F.greatest(x, y).alias("b"))  # noqa: E731
    corners = tri.select(
        F.explode(
            F.array(
                pair(F.col("v1"), F.col("v2")),
                pair(F.col("v1"), F.col("v3")),
                pair(F.col("v2"), F.col("v3")),
            )
        ).alias("e")
    ).select("e.a", "e.b")
    return corners.groupBy("a", "b").agg(F.count(F.lit(1)).alias("sup"))


def _peel(edges: DataFrame, thresh: int, max_rounds: int | None = None):
    """Peel ``edges`` (canonical a<b, already localCheckpoint'ed) down
    to the subgraph where every edge has triangle support >= thresh.
    Returns (survivors, rounds, count). Lineage truncated per round;
    ``edges`` stays the caller's (trussness reads it after the peel)."""
    prev_count = edges.count()
    rounds = 0
    cur = edges
    while True:
        sup = _support(cur)
        # one barrier per round (one stored copy, then the previous
        # round's state is released) instead of chained eager
        # checkpoints — the peel runs to fixpoint, so its round count is
        # input-dependent and can cross the ~16-round driver cliff
        # (PLANS.md "Lineage discipline")
        nxt, (cur_count,) = barrier(
            None,
            cur.join(sup, ["a", "b"], "left")
            .select("a", "b", F.coalesce("sup", F.lit(0)).alias("sup"))
            .where(F.col("sup") >= thresh)
            .select("a", "b"),
        )
        if cur is not edges:
            release(cur)
        cur = nxt
        rounds += 1
        stable = cur_count == prev_count
        prev_count = cur_count
        if stable or cur_count == 0 or (max_rounds is not None and rounds >= max_rounds):
            return cur, rounds, cur_count


def ktruss(graph: Graph, k: int = 4, max_rounds: int | None = None) -> DataFrame:
    """(a, b, sup) — the canonical undirected edges of the k-truss, with
    each edge's triangle support measured INSIDE the final subgraph.
    Runs to fixpoint unless ``max_rounds`` caps the peel."""
    edges = undirected_edges(graph.edges).localCheckpoint(eager=True)
    edges, _, _ = _peel(edges, k - 2, max_rounds)
    # final support measured on the surviving subgraph (== the last
    # pre-filter support when the loop ended at fixpoint)
    return (
        edges.join(_support(edges), ["a", "b"], "left")
        .select("a", "b", F.coalesce("sup", F.lit(0)).alias("sup"))
    )


def trussness(
    graph: Graph, k_max: int = 8, max_rounds_per_level: int | None = None
) -> DataFrame:
    """(a, b, trussness) — the FULL truss decomposition: for every
    canonical undirected edge, the largest k such that the edge survives
    the k-truss peel (every edge is trivially in the 2-truss; edges in
    no triangle get trussness 2). Edges still alive after the
    ``k_max``-level peel report trussness ``k_max`` — a declared cap,
    set above the graph's true maximum at gate scale so the reported
    values are the true trussness (same contract as the coreness cap).

    Level peeling: for k = 3..k_max, peel the previous level's
    survivors to the k-truss fixpoint; edges dropped at level k have
    trussness k-1. Each level's input shrinks monotonically, so total
    work is bounded by (k_max-2) × the k=3 peel; the expensive stage is
    the per-round support join — the same degree-oriented wedge join as
    ``triangle_count`` (O(Σ deg^{3/2}) per round, no neighbor-set
    broadcast). Lineage truncated per round via localCheckpoint.
    ``max_rounds_per_level`` caps each level's peel (fixed-round mode
    for oracle comparability; surplus rounds past a fixpoint are no-ops).
    """
    edges = undirected_edges(graph.edges).localCheckpoint(eager=True)
    out: DataFrame | None = None
    prev = edges
    alive = prev.count()
    for k in range(3, k_max + 1):
        if alive == 0:
            break
        surv, _, alive = _peel(prev, k - 2, max_rounds_per_level)
        removed = prev.join(surv, ["a", "b"], "left_anti").select(
            "a", "b", F.lit(k - 1).alias("trussness")
        )
        out = removed if out is None else out.unionAll(removed)
        prev = surv
    capped = prev.select("a", "b", F.lit(k_max).alias("trussness"))
    return capped if out is None else out.unionAll(capped)
