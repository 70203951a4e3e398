"""BFS depth / k-hop neighborhood (Vermeer ``kout`` and ``depth``).

Reference: ``vermeer/algorithms/kout.go`` (k-hop neighborhood size from
``kout.source``) and ``vermeer/algorithms/depth.go`` (BFS depth per
vertex). Both are unweighted SSSP specializations; expressed here over
the shared frontier engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.operators.sssp import sssp
from incubator_hugegraph_computer_spark.plans.lineage import barrier


def bfs_depth(
    graph: Graph, source: int, max_depth: int = 100, **engine_kwargs
) -> DataFrame:
    """(id, depth) — hop distance from source along out-edges; vertices
    unreachable within max_depth omitted."""
    d = sssp(graph, source, weight_col=None, max_supersteps=max_depth, **engine_kwargs)
    return d.select("id", F.col("dist").cast("long").alias("depth"))


def kout(graph: Graph, source: int, k: int) -> DataFrame:
    """Single row (source, kout_size): number of distinct vertices within
    k hops of source, excluding source itself (vermeer kout.go:72)."""
    d = bfs_depth(graph, source, max_depth=k)
    n = d.where((F.col("depth") >= 1) & (F.col("depth") <= k)).count()
    return graph.spark.createDataFrame(
        [(source, n)], "source long, kout_size long"
    )


def ego_size(graph: Graph, radius: int = 2) -> DataFrame:
    """(id, ego_size) for EVERY vertex: # distinct vertices (≠ self)
    reachable within ``radius`` hops along out-edges — the all-sources
    generalization of ``kout`` (vermeer kout.go computes one source per
    job; a pipeline wanting per-vertex neighborhood features runs this
    instead of V jobs).

    Physical shape: the state is (root, v) reachability pairs grown one
    frontier join per hop — O(Σ_k |N_k|) rows, hash-shuffled on the
    frontier vertex; the distinct after each expansion is the map-side
    dedup that keeps hub fan-out from exploding the pair multiset. At
    radius 2 (the friend-of-friend feature) this is two shuffles plus
    the final count. Rooted at EVERY vertex the state is O(V·avg-reach)
    — same scale story as multi-source closeness, which is why radius
    stays small (2-3) at web scale.
    """
    e = graph.edges.select("src", "dst").distinct()
    # reach: all (root, v) with 1 <= d(root, v) <= radius
    frontier = e.select(F.col("src").alias("root"), F.col("dst").alias("v"))
    reach = frontier
    for _ in range(radius - 1):
        frontier = (
            frontier.join(e, frontier.v == e.src)
            .select("root", F.col("dst").alias("v"))
            .distinct()
        )
        reach = reach.unionAll(frontier)
    counts = (
        reach.where(F.col("root") != F.col("v"))
        .distinct()
        .groupBy(F.col("root").alias("id"))
        .agg(F.count(F.lit(1)).alias("ego_size"))
    )
    return (
        graph.vertices.join(counts, "id", "left")
        .select("id", F.coalesce("ego_size", F.lit(0)).alias("ego_size"))
    )


def diameter_2sweep(graph: Graph, max_depth: int = 100) -> DataFrame:
    """One row (start, ecc_start, far_vertex, diameter_lb) — the
    standard double-sweep diameter lower bound over the UNDIRECTED view
    (symmetrized edges): BFS from the minimum vertex id, hop to the
    farthest reached vertex (ties → min id), BFS again; the second
    eccentricity is the diameter estimate. Exact on trees, and in
    practice tight on web-shaped graphs (Magnien/Latapy/Habib 2009).

    Cost: exactly two frontier BFS runs — O(diameter) supersteps each,
    every superstep one hash-shuffled frontier join. The two scalar
    pulls (start id, farthest id) are one-row driver actions, not
    collections.
    """
    sym = graph.symmetrized()
    start = sym.vertices.agg(F.min("id")).first()[0]
    d1 = bfs_depth(sym, int(start), max_depth=max_depth)
    far_row = d1.orderBy(F.desc("depth"), F.asc("id")).first()
    far, ecc_start = int(far_row["id"]), int(far_row["depth"])
    d2 = bfs_depth(sym, far, max_depth=max_depth)
    diameter_lb = d2.agg(F.max("depth")).first()[0]
    return graph.spark.createDataFrame(
        [(int(start), ecc_start, far, int(diameter_lb))],
        "start long, ecc_start long, far_vertex long, diameter_lb long",
    )


def eccentricity(
    graph, sources=None, max_depth: int = 30
) -> DataFrame:
    """(id, ecc, n_reached) per SOURCE vertex: eccentricity = max hop
    distance to any vertex reachable along out-edges within max_depth
    (0 for sinks), n_reached = how many vertices that is. Radius /
    diameter estimates are min/max over a seed set's rows — the same
    sampled protocol as harmonic/closeness, sharing their BFS kernel
    (state O(reached pairs), the seed count is the scale knob)."""
    from incubator_hugegraph_computer_spark.operators.closeness import (
        multi_source_bfs,
    )

    verts = graph.vertices.select("id")
    if sources is None:
        sources = verts
    visited = multi_source_bfs(graph, sources, max_depth=max_depth)
    per = (
        visited.where(F.col("dist") > 0)
        .groupBy(F.col("source").alias("id"))
        .agg(
            F.max("dist").cast("long").alias("ecc"),
            F.count(F.lit(1)).alias("n_reached"),
        )
    )
    return sources.join(per, "id", "left").select(
        "id",
        F.coalesce("ecc", F.lit(0).cast("long")).alias("ecc"),
        F.coalesce("n_reached", F.lit(0).cast("long")).alias("n_reached"),
    )


def temporal_reachability(
    graph: Graph,
    source: int,
    ts_col: str = "ts",
    max_hops: int = 8,
) -> DataFrame:
    """Earliest-arrival time-respecting reachability — (id, arrival)
    for every vertex reachable from ``source`` along directed paths
    whose edge timestamps are non-decreasing, within ``max_hops``.

    The temporal analogue of SSSP (``vermeer/algorithms/sssp.go`` is
    the static case): an edge (u, v, ts) is traversable only when
    ts >= arrival(u), and arrival(v) relaxes to the minimum such ts.
    Earliest-arrival is label-correcting, so the superstep recurrence

        arr_{t+1}(v) = min(arr_t(v), min{ts : (u,v,ts) ∈ E, ts >= arr_t(u)})

    converges in <= max_hops rounds for hop-bounded semantics (declared
    budget, replayed by the oracle). The source starts at arrival -1
    (may leave on any edge).

    Scale: per round one |E|-row hash join + min-combine — identical
    shuffle shape to one SSSP superstep; state is one long per reached
    vertex, lineage cut per round. Monotone (arrivals only decrease,
    reached set only grows), so no frontier bookkeeping is needed for
    correctness; rounds after convergence are no-ops.
    """
    from pyspark.sql import functions as F

    edges = graph.edges.select("src", "dst", ts_col).localCheckpoint(eager=True)
    arr = graph.vertices.select(
        "id",
        F.when(F.col("id") == source, F.lit(-1)).cast("long").alias("arrival"),
    ).where(F.col("arrival").isNotNull())
    for _ in range(max_hops):
        relax = (
            edges.join(arr.withColumnRenamed("id", "src"), "src")
            .where(F.col(ts_col) >= F.col("arrival"))
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min(ts_col).cast("long").alias("cand"))
        )
        arr, _ = barrier(
            arr,
            arr.join(relax, "id", "full").select(
                "id",
                F.least(
                    F.coalesce("arrival", F.lit(2**62)),
                    F.coalesce("cand", F.lit(2**62)),
                )
                .cast("long")
                .alias("arrival"),
            ),
        )
    return arr


def msbfs_reach(
    graph: Graph,
    seed_max: int = 32,
    max_hops: int = 8,
) -> DataFrame:
    """Bit-parallel multi-source BFS (MS-BFS, Then et al. VLDB'14) —
    (id, reach_mask, n_src) for every vertex reached by at least one
    seed, where bit (s % 63) of ``reach_mask`` is set iff seed s
    (every vertex with id <= seed_max) reaches the vertex within
    ``max_hops`` directed hops.

    One BFS wavefront carries ALL sources as a single int64 bitmask
    with bit_or as the combiner — 63 BFS traversals for the shuffle
    cost of one. This is the batching primitive behind the sampled
    closeness/betweenness estimators; exact integers end-to-end, so
    the unrolled oracle replays it bit-for-bit.

    Scale: per round one |E| hash join + bit_or map-side combine;
    state one long per reached vertex. Monotone (masks only gain
    bits), so converged rounds are no-ops. For >63 sources, run
    ⌈S/63⌉ passes — still S/63× fewer shuffles than one-at-a-time.
    """
    from pyspark.sql import functions as F

    if seed_max > 62:
        # bit (id % 63) aliases distinct seeds into one mask bit past 62,
        # silently corrupting reach_mask/n_src — refuse instead
        raise ValueError(
            f"msbfs_reach: seed_max={seed_max} exceeds the 63-seed int64 "
            "mask (ids 0..62); run ceil(S/63) passes for more sources"
        )
    e = graph.edges.select("src", "dst").localCheckpoint(eager=True)
    state = (
        graph.vertices.where(F.col("id") <= seed_max)
        .select(
            "id",
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(id % 63 AS INT))").alias(
                "mask"
            ),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(max_hops):
        msg = (
            e.join(state.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.expr("bit_or(mask)").alias("mask"))
        )
        state, _ = barrier(
            state,
            state.union(msg)
            .groupBy("id")
            .agg(F.expr("bit_or(mask)").cast("long").alias("mask")),
        )
    return state.select(
        "id",
        F.col("mask").alias("reach_mask"),
        F.bit_count("mask").cast("long").alias("n_src"),
    )
