"""Bridges and 2-edge-connected components of the undirected simple graph.

The reference suite has no bridge finder, but a link-graph deployment
needs one: a bridge edge is a single point of failure in the host/site
graph (its removal disconnects its endpoints), and the 2-edge-connected
components are the cycle-connected cores that survive any single link
loss. Tarjan's low-link algorithm is a sequential DFS, so this uses the
spanning-forest **tag-and-cover** formulation, which parallelizes as a
BSP job (cf. the parallel bridge-finding family surveyed alongside the
Euler-tour methods; this variant needs only BFS + bounded walks):

1. Build a rooted BFS spanning forest of the undirected simple graph
   (root = min id per component, parent = min neighbor one level up —
   fully deterministic).
2. Every non-tree edge (u, w) "covers" the tree edges on the tree path
   u..w (they all lie on the cycle the non-tree edge closes).
3. A tree edge is a bridge iff NO non-tree edge covers it; non-tree
   edges are never bridges (they close a cycle by construction).

Which spanning forest is chosen does not affect the result — bridges
are a graph invariant — so the DuckDB oracle may build its own forest.

Physical shape / 100 TB story:
- Forest = one WCC (min-label, reuses ``operators/wcc.py``) + one
  multi-source BFS from the component roots (reuses
  ``multi_source_bfs``): O(diameter) supersteps, all shuffle-by-vertex.
- The cover walk advances every live (u, w) pair one tree-hop per
  round, always moving the DEEPER endpoint (tie → larger id), so pairs
  meet exactly at their tree LCA. State rows ≤ live non-tree edges and
  pairs are normalized + ``distinct``-ed every round, so walks that
  merge onto a shared tree path collapse into ONE state row — total
  work is bounded by (covered tree edges × levels), not by the sum of
  path lengths. Each round is two hash joins against the (id, depth,
  parent) table, shuffled on the moving endpoint.
- Round count ≤ 2 × forest height ≤ 2 × component diameter — small on
  web graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.operators.closeness import multi_source_bfs
from incubator_hugegraph_computer_spark.operators.wcc import wcc
from incubator_hugegraph_computer_spark.plans.lineage import barrier, release


def _undirected_pairs(graph: Graph) -> DataFrame:
    """Distinct undirected simple edges as (a < b); self-loops dropped.

    Parallel (src→dst plus dst→src) edges collapse to one undirected
    edge — same simple-graph convention as triangle_count/ktruss.
    """
    return (
        graph.edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _bfs_forest(graph: Graph, und: DataFrame, max_depth: int):
    """Deterministic rooted spanning forest → (node table, tree edges).

    node table: (id, dep, parent) — parent is null at roots.
    tree edges: (a, b) normalized pairs.
    """
    bidir = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    ug = Graph(graph.vertices.select("id"), bidir)
    comp = wcc(graph, count_messages=False)
    roots = comp.select(F.col("comp").alias("id")).distinct()
    # Each vertex is reachable from exactly one root (its component's),
    # so (v, dist) is unique per vertex.
    visited = multi_source_bfs(ug, roots, max_depth=max_depth)
    dep = visited.select(F.col("v").alias("id"), F.col("dist").alias("dep"))
    # parent(v) = MIN neighbor u with dep(u) = dep(v) - 1
    par = (
        dep.where(F.col("dep") > 0)
        .join(bidir.select(F.col("dst").alias("id"), F.col("src").alias("u")), "id")
        .join(
            dep.select(F.col("id").alias("u"), F.col("dep").alias("udep")), "u"
        )
        .where(F.col("udep") == F.col("dep") - 1)
        .groupBy("id", "dep")
        .agg(F.min("u").alias("parent"))
    )
    nodes = (
        dep.join(par.select("id", "parent"), "id", "left")
        .select("id", "dep", "parent")
        .persist()
    )
    tree = nodes.where(F.col("parent").isNotNull()).select(
        F.least("id", "parent").alias("a"), F.greatest("id", "parent").alias("b")
    )
    return nodes, tree


def bridges(graph: Graph, max_depth: int = 64) -> DataFrame:
    """(a, b) — every bridge of the undirected simple graph, a < b."""
    und = _undirected_pairs(graph).persist()
    nodes, tree = _bfs_forest(graph, und, max_depth)
    tree = tree.persist()
    nt = und.join(tree, ["a", "b"], "left_anti")

    # Cover walk. state: live (x, y) endpoint pairs, normalized x < y.
    nx = nodes.select(
        F.col("id").alias("x"), F.col("dep").alias("xdep"), F.col("parent").alias("xpar")
    )
    ny = nodes.select(
        F.col("id").alias("y"), F.col("dep").alias("ydep"), F.col("parent").alias("ypar")
    )
    state, (n_live,) = barrier(
        None,
        nt.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .where(F.col("x") != F.col("y")),
    )
    # Per round, ONE action: the live next-pairs and this round's covered
    # tree edges ride the same tagged frame, the barrier materializes it
    # and reads the live count off the materializing aggregation. Each
    # round's frame stays pinned until the end (its live=0 rows are the
    # covered edges the final anti-join consumes).
    frames: list[DataFrame] = [state]
    while n_live > 0:
        step = state.join(nx, "x").join(ny, "y")
        # move the deeper endpoint; tie → the larger id (x < y ⇒ y)
        move_x = F.col("xdep") > F.col("ydep")
        mv = F.when(move_x, F.col("x")).otherwise(F.col("y"))
        mvpar = F.when(move_x, F.col("xpar")).otherwise(F.col("ypar"))
        stay = F.when(move_x, F.col("y")).otherwise(F.col("x"))
        both = (
            step.select(
                F.least(mvpar, stay).alias("x"),
                F.greatest(mvpar, stay).alias("y"),
                F.lit(1).alias("live"),
            )
            .where(F.col("x") != F.col("y"))
            .unionAll(
                step.select(
                    F.least(mv, mvpar).alias("x"),
                    F.greatest(mv, mvpar).alias("y"),
                    F.lit(0).alias("live"),
                )
            )
            .distinct()
        )
        frame, row = barrier(None, both, F.sum("live"))
        frames.append(frame)
        n_live = row[0] or 0
        state = frame.where(F.col("live") == 1).select("x", "y")
    covered_parts = [
        f.where(F.col("live") == 0).select(F.col("x").alias("a"), F.col("y").alias("b"))
        for f in frames[1:]
    ]
    out = tree
    if covered_parts:
        covered = covered_parts[0]
        for part in covered_parts[1:]:
            covered = covered.unionAll(part)
        out = tree.join(covered.distinct(), ["a", "b"], "left_anti")
    result, _ = barrier(None, out)
    for f in frames:
        release(f)
    nodes.unpersist()
    tree.unpersist()
    und.unpersist()
    return result


def two_edge_components(graph: Graph, max_depth: int = 64) -> DataFrame:
    """(id, comp2) — 2-edge-connected component labels (min id), i.e.
    connected components after deleting every bridge. Vertices whose
    every incident edge is a bridge become singleton components."""
    und = _undirected_pairs(graph)
    br = bridges(graph, max_depth=max_depth)
    kept = und.join(br, ["a", "b"], "left_anti")
    bidir = kept.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        kept.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    g2 = Graph(graph.vertices.select("id"), bidir)
    # The bridge-free graph is cycle-rich, and a single long cycle has
    # diameter n/2 — min-propagation's superstep count scales with it,
    # where the edge contraction stays O(log n) rounds.
    return wcc(g2, method="contract").select("id", F.col("comp").alias("comp2"))
