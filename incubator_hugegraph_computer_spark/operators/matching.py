"""Maximal matching — Luby-style edge symmetry breaking.

Sibling of ``operators/mis.py`` (Israeli–Itai / Luby-family BSP
primitive): each round every ALIVE undirected edge draws a
deterministic priority; an edge enters the matching iff its priority
is the minimum among all alive edges sharing either endpoint; matched
endpoints and their incident edges leave. Expected O(log E) rounds.
Maximal (no augmenting single edge remains) and a 2-approximation of
maximum matching — the standard distributed building block for graph
coarsening (multilevel partitioners pair matched vertices) and
load-balanced pairing.

Determinism / oracle parity: the per-round priority is
``md5(a || '-' || b || ':<seed>:<round>')`` over the canonical (a<b)
edge — a fresh uniform draw per (edge, round) that DuckDB replays
bit-identically; md5 uniqueness means no ties. An edge wins iff its
priority equals the min at BOTH endpoints (it participates in those
mins, so equality identifies it).

Scale shape per round: explode each alive edge to its two endpoint
rows, one groupBy(endpoint) min (map-side combined), rejoin to edges,
two anti-joins to prune — all keyed joins, alive set shrinks
geometrically, localCheckpoint per round truncates lineage (the
mis.py contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.operators.triangle_count import undirected_edges
from incubator_hugegraph_computer_spark.plans.lineage import barrier, release


def _edge_priority(a, b, seed: int, rnd: int):
    return F.md5(
        F.concat(a.cast("string"), F.lit("-"), b.cast("string"), F.lit(f":{seed}:{rnd}"))
    )


def maximal_matching(graph: Graph, max_rounds: int = 12, seed: int = 42) -> DataFrame:
    """(a, b, matched) over the canonical undirected edge set.
    ``max_rounds`` is declared semantics (oracle runs exactly the same
    rounds); the alive set empties in O(log E) expected rounds."""
    max_rounds = max(1, max_rounds)
    und = undirected_edges(graph.edges)  # (a, b), a < b, no loops
    alive, _ = barrier(None, und)
    matched = None
    for rnd in range(1, max_rounds + 1):
        pri = alive.select(
            "a", "b", _edge_priority(F.col("a"), F.col("b"), seed, rnd).alias("p")
        )
        ends = pri.select(F.col("a").alias("v"), "p").unionAll(
            pri.select(F.col("b").alias("v"), "p")
        )
        vmin = ends.groupBy("v").agg(F.min("p").alias("mp"))
        winners, _ = barrier(
            None,
            pri.join(vmin.select(F.col("v").alias("a"), F.col("mp").alias("mpa")), "a")
            .join(vmin.select(F.col("v").alias("b"), F.col("mp").alias("mpb")), "b")
            .where((F.col("p") == F.col("mpa")) & (F.col("p") == F.col("mpb")))
            .select("a", "b"),
        )
        matched = (
            winners if matched is None else barrier(matched, matched.unionAll(winners))[0]
        )
        mv = winners.select(F.col("a").alias("v")).unionAll(
            winners.select(F.col("b").alias("v"))
        ).distinct()
        alive, (n_alive,) = barrier(
            alive,
            alive.join(mv.withColumnRenamed("v", "a"), "a", "left_anti")
            .join(mv.withColumnRenamed("v", "b"), "b", "left_anti")
            .select("a", "b"),
        )
        if matched is not winners:
            release(winners)
        if n_alive == 0:
            break
    return und.join(
        matched.withColumn("matched", F.lit(True)), ["a", "b"], "left"
    ).select("a", "b", F.coalesce("matched", F.lit(False)).alias("matched"))


def coarsen(graph: Graph, max_rounds: int = 12, seed: int = 42) -> DataFrame:
    """(i, j, w) — the matching-contracted supergraph: each matched
    pair collapses into one supervertex named by the pair's min id,
    unmatched vertices keep their own id; surviving canonical
    super-edges carry the summed multiplicity of the original edges
    they absorb (self-loops — edges internal to a pair — drop, the
    multilevel-coarsening convention).

    This is one level of the multilevel scheme (METIS-style heavy-edge
    coarsening, here uniform weights): matching guarantees every
    supervertex absorbs at most 2 vertices, so the coarse graph has
    ≥ |matched| fewer vertices and the level count to a constant-size
    graph is O(log V) when matchings stay near-maximum.

    Scale shape: the matching rounds (see :func:`maximal_matching`)
    + one V-row relabel map + one E-row double join + groupBy —
    exactly the contraction shape louvain's level step uses.
    """
    und = undirected_edges(graph.edges)
    m = maximal_matching(graph, max_rounds=max_rounds, seed=seed)
    pairs = m.where(F.col("matched")).select("a", "b")
    relabel = pairs.select(F.col("a").alias("id"), F.col("a").alias("super")).unionAll(
        pairs.select(F.col("b").alias("id"), F.col("a").alias("super"))
    )
    full_map = (
        graph.vertices.select("id")
        .join(relabel, "id", "left")
        .select("id", F.coalesce("super", F.col("id")).alias("super"))
    )
    ma = full_map.select(F.col("id").alias("a"), F.col("super").alias("sa"))
    mb = full_map.select(F.col("id").alias("b"), F.col("super").alias("sb"))
    return (
        und.join(ma, "a")
        .join(mb, "b")
        .where(F.col("sa") != F.col("sb"))
        .select(
            F.least("sa", "sb").alias("i"),
            F.greatest("sa", "sb").alias("j"),
        )
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def heavy_edge_matching(
    graph: Graph,
    weight_col: str | None = None,
    max_rounds: int = 12,
    seed: int = 42,
) -> DataFrame:
    """(a, b, w, matched) — weight-greedy maximal matching: the METIS
    heavy-edge rule (match each vertex along its heaviest incident
    edge), the coarsening choice that preserves the most edge weight
    inside supervertices per level. Locally-dominant formulation
    (Preis 1999 / Manne–Bisseling): an edge enters the matching iff it
    is the BEST edge at both endpoints, best = (max weight, md5
    tie-break); matched endpoints leave, repeat. Same round/termination
    contract as :func:`maximal_matching` (uniform weights degenerate
    to it, up to the best-at-both formulation).

    Undirected weights: with ``weight_col``, parallel/reverse directed
    edges collapse to one canonical edge carrying their MAX weight;
    without, weight 1.0.

    Scale shape per round: endpoint-explode + one map-side-combined
    argmin (min of a (−w, p, a, b) struct) + a 2-count groupBy to
    intersect the two endpoints' choices + the same anti-join pruning;
    alive set shrinks geometrically, localCheckpoint per round.
    """
    max_rounds = max(1, max_rounds)
    if weight_col is None:
        und = undirected_edges(graph.edges).withColumn("w", F.lit(1.0))
    else:
        und = (
            graph.edges.where(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
                F.col(weight_col).cast("double").alias("w"),
            )
            .groupBy("a", "b")
            .agg(F.max("w").alias("w"))
        )
    alive, _ = barrier(None, und)
    matched = None
    for rnd in range(1, max_rounds + 1):
        pri = alive.select(
            "a", "b", "w",
            _edge_priority(F.col("a"), F.col("b"), seed, rnd).alias("p"),
            (-F.col("w")).alias("nw"),
        )
        ends = pri.select(F.col("a").alias("v"), "nw", "p", "a", "b").unionAll(
            pri.select(F.col("b").alias("v"), "nw", "p", "a", "b")
        )
        best = (
            ends.groupBy("v")
            .agg(F.min(F.struct("nw", "p", "a", "b")).alias("m"))
            .select(F.col("m.a").alias("a"), F.col("m.b").alias("b"))
        )
        winners, _ = barrier(
            None,
            best.groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") == 2)
            .select("a", "b"),
        )
        matched = (
            winners if matched is None else barrier(matched, matched.unionAll(winners))[0]
        )
        mv = winners.select(F.col("a").alias("v")).unionAll(
            winners.select(F.col("b").alias("v"))
        ).distinct()
        alive, (n_alive,) = barrier(
            alive,
            alive.join(mv.withColumnRenamed("v", "a"), "a", "left_anti")
            .join(mv.withColumnRenamed("v", "b"), "b", "left_anti")
            .select("a", "b", "w"),
        )
        if matched is not winners:
            release(winners)
        if n_alive == 0:
            break
    return und.join(
        matched.withColumn("matched", F.lit(True)), ["a", "b"], "left"
    ).select(
        "a", "b", F.round("w", 6).alias("w"),
        F.coalesce("matched", F.lit(False)).alias("matched"),
    )
