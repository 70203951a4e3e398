"""Closeness centrality — multi-source BFS distance accumulation.

Reference: ``computer-algorithm/.../centrality/closeness/
ClosenessCentrality.java:35-166``: every (sampled) vertex floods its id;
each receiver accumulates Σ 1/dist over distinct reachable sources.
Sampling (``sample_rate``) uses Math.random() in the reference
(:148-151); here a *seeded* hash-based Bernoulli so runs reproduce.

Spark shape: the BSP state is the frontier of (vertex, source) pairs —
the classic multi-source BFS DataFrame. State size is O(V · sources),
which is why the reference samples; pass sample_rate < 1 at scale.
Distances here are hop counts over the directed graph, accumulated at
the *receiving* vertex (a vertex's score sums 1/d(u→v) over sources u
that reach it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans.lineage import barrier, release


def closeness(
    graph: Graph,
    sample_rate: float = 1.0,
    seed: int = 42,
    max_depth: int = 30,
    sources: DataFrame | None = None,
    edge_sample_rate: float = 1.0,
    weight_col: str | None = None,
) -> DataFrame:
    """(id, closeness) with closeness = Σ_{sampled sources u ≠ v
    reaching v} 1 / d(u, v).

    Two samplers, composable:
    - ``sample_rate`` thins the SOURCE set (cuts the O(V·sources) state
      — the cheaper estimator, kept as the default knob);
    - ``edge_sample_rate`` is the reference's EXACT estimator shape
      (``ClosenessCentrality.java:148-151``: each message send is
      dropped with probability 1-p, per edge per superstep) — a seeded
      hash Bernoulli over (v, source, dst, depth) instead of
      ``Math.random()`` so runs reproduce.

    ``weight_col``: the reference's ``closeness.weight_property``
    (``ClosenessCentrality.java:128-141,153-166``: message distance is
    the running SUM of edge weights, missing weight → 1.0). Switches
    the propagation from layered BFS to multi-source Bellman-Ford with
    a change-frontier: only rows whose best distance improved last
    round relax their out-edges (an unchanged row's relaxations were
    already min-merged earlier, so the per-level state is identical to
    full Bellman-Ford — which is what the level-unrolled SQL oracle
    replays). ``max_depth`` bounds the relaxation rounds."""
    if weight_col is not None:
        return _closeness_weighted(
            graph, seed=seed, rounds=max_depth, sources=sources,
            sample_rate=sample_rate, edge_sample_rate=edge_sample_rate,
            weight_col=weight_col,
        )
    if sources is None:
        sources = graph.vertices.select("id")
        if sample_rate < 1.0:
            # pmod: abs(hash)==MIN_VALUE stays negative and would be
            # sampled at ANY rate
            sources = sources.where(
                F.pmod(F.hash(F.col("id"), F.lit(seed)), F.lit(1_000_000))
                < int(sample_rate * 1_000_000)
            )
    visited = multi_source_bfs(
        graph, sources, max_depth=max_depth, seed=seed,
        edge_sample_rate=edge_sample_rate,
    )
    return (
        visited.where(F.col("dist") > 0)
        .groupBy(F.col("v").alias("id"))
        .agg(F.sum(1.0 / F.col("dist")).alias("closeness"))
    )


def multi_source_bfs(
    graph: Graph,
    sources: DataFrame,
    max_depth: int = 30,
    seed: int = 42,
    edge_sample_rate: float = 1.0,
) -> DataFrame:
    """Layered multi-source BFS → ``(v, source, dist)`` with the MINIMAL
    hop count per reached pair (dist 0 rows = the sources themselves).

    The shared kernel behind closeness, harmonic centrality and the
    exact neighborhood function. State is O(reached pairs) — the caller
    controls blowup via the source set and ``max_depth``; the per-level
    left-anti join keeps each pair exactly once, so levels shrink as
    the frontier saturates. Per-level ``localCheckpoint`` truncates the
    lineage (30 unions would otherwise stack a 30-deep plan)."""
    # visited: (vertex, source, dist) with minimal dist; frontier = last layer
    frontier = sources.select(
        F.col("id").alias("v"), F.col("id").alias("source"), F.lit(0).alias("dist")
    ).persist()
    visited = frontier
    for depth in range(1, max_depth + 1):
        expanded = frontier.join(graph.edges, frontier.v == graph.edges.src)
        if edge_sample_rate < 1.0:
            # per-edge-per-superstep Bernoulli drop — the reference's
            # sampling point, made deterministic
            expanded = expanded.where(
                F.pmod(
                    F.hash(F.col("v"), F.col("source"), F.col("dst"),
                           F.lit(seed), F.lit(depth)),
                    F.lit(1_000_000),
                )
                < int(edge_sample_rate * 1_000_000)
            )
        nxt, (n,) = barrier(
            None,
            expanded
            .select(F.col("dst").alias("v"), "source", (F.col("dist") + 1).alias("dist"))
            .distinct()
            .join(visited.select("v", "source"), ["v", "source"], "left_anti"),
        )
        if n == 0:
            release(nxt)
            break
        new_visited, _ = barrier(None, visited.unionAll(nxt))
        # release the superseded round-(k-1) caches — visited is
        # materialized, so nothing downstream re-reads them
        if visited is not frontier:
            release(visited)
        release(frontier)
        visited, frontier = new_visited, nxt
    if frontier is not visited:
        release(frontier)
    return visited


def _closeness_weighted(
    graph: Graph,
    seed: int,
    rounds: int,
    sources: DataFrame | None,
    sample_rate: float,
    edge_sample_rate: float,
    weight_col: str,
) -> DataFrame:
    """Multi-source weighted shortest distances, then Σ 1/d.

    State ``best(v, source, dist)`` is monotone non-increasing under
    min-merge, so the change-frontier recurrence reaches the same
    per-round state as full Bellman-Ford; early exit on an empty
    frontier is a fixed point and equals the round-``rounds`` state.
    Strictly-smaller-only improvement matches the reference's
    ``newValue >= oldValue → skip`` (ClosenessCentrality.java:113-116).
    """
    if sources is None:
        sources = graph.vertices.select("id")
        if sample_rate < 1.0:
            sources = sources.where(
                F.pmod(F.hash(F.col("id"), F.lit(seed)), F.lit(1_000_000))
                < int(sample_rate * 1_000_000)
            )
    edges = graph.edges.select(
        "src", "dst", F.coalesce(F.col(weight_col).cast("double"), F.lit(1.0)).alias("w")
    )
    frontier = sources.select(
        F.col("id").alias("v"), F.col("id").alias("source"),
        F.lit(0.0).alias("dist"),
    ).persist()
    best = frontier
    for rnd in range(1, rounds + 1):
        expanded = frontier.join(edges, frontier.v == edges.src)
        if edge_sample_rate < 1.0:
            expanded = expanded.where(
                F.pmod(
                    F.hash(F.col("v"), F.col("source"), F.col("dst"),
                           F.lit(seed), F.lit(rnd)),
                    F.lit(1_000_000),
                )
                < int(edge_sample_rate * 1_000_000)
            )
        cand = (
            expanded
            .select(F.col("dst").alias("v"), "source",
                    (F.col("dist") + F.col("w")).alias("dist"))
            .groupBy("v", "source")
            .agg(F.min("dist").alias("dist"))
        )
        improved, (n,) = barrier(
            None,
            cand.join(
                best.select("v", "source", F.col("dist").alias("_old")),
                ["v", "source"], "left",
            )
            .where(F.col("_old").isNull() | (F.col("dist") < F.col("_old")))
            .select("v", "source", "dist"),
        )
        if n == 0:
            release(improved)
            break
        new_best, _ = barrier(
            None,
            best.join(improved.select("v", "source"), ["v", "source"], "left_anti")
            .unionAll(improved),
        )
        # release superseded caches (round-(k-1) best and frontier)
        if best is not frontier:
            release(best)
        release(frontier)
        best, frontier = new_best, improved
    if frontier is not best:
        release(frontier)
    return (
        best.where(F.col("dist") > 0)
        .groupBy(F.col("v").alias("id"))
        .agg(F.sum(1.0 / F.col("dist")).alias("closeness"))
    )
