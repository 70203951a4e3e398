"""Code-dependency-graph analyses: build layering, coupling metrics,
change-impact sets.

The engine's native payload is a dependency graph over source files
(BASELINE input_hint: imports extracted per file). These are the three
queries a build/refactoring pipeline asks of that graph:

* ``build_layers`` — parallel build order: collapse cycles (SCC
  condensation), then assign each component its longest-path depth in
  the condensation DAG. Everything in layer k can compile concurrently
  once layers < k are done. Reference parity: composes the engine's SCC
  (``vermeer/algorithms/scc.go`` semantics, scc = min member id) with a
  max-propagation BSP loop — the same join-aggregate superstep shape as
  SSSP with (max, +1) instead of (min, +w).
* ``coupling_metrics`` — Martin's afferent/efferent coupling per module
  (Ca = distinct dependents, Ce = distinct dependencies) and the
  instability ratio I = Ce / (Ca + Ce). Pure one-pass aggregates.
* ``impact_set`` — change-impact: for each file in a changed set, how
  many files transitively depend on it within ``max_depth`` hops
  (reverse reachability). Multi-source frontier BFS over reversed
  edges; the (seed, node) pair state is bounded by |seeds| x V and the
  per-hop distinct is the map-side dedup that keeps hub fan-in from
  exploding the pair multiset — same discipline as ``bfs.ego_size``.

100 TB shape: layering runs on the condensation (orders of magnitude
smaller than the file graph); coupling is a single shuffle on each edge
endpoint with map-side partial aggregation; impact_set scales with the
changed-set size (a CI batch, not the corpus), not V.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.operators.scc import scc
from incubator_hugegraph_computer_spark.plans.lineage import barrier, release


def condensation_edges(graph: Graph, labels: DataFrame) -> DataFrame:
    """(src, dst) DAG edges between distinct SCC labels."""
    return (
        graph.edges.select("src", "dst")
        .join(labels.select(F.col("id").alias("src"), F.col("scc").alias("csrc")), "src")
        .join(labels.select(F.col("id").alias("dst"), F.col("scc").alias("cdst")), "dst")
        .where(F.col("csrc") != F.col("cdst"))
        .select(F.col("csrc").alias("src"), F.col("cdst").alias("dst"))
        .distinct()
    )


def build_layers(graph: Graph, max_depth: int = 200) -> DataFrame:
    """(id, scc, layer): layer = longest path (in condensation-DAG hops)
    ending at the vertex's component; layer-0 components have no
    dependencies outside their own cycle.

    Longest-path-to-fixpoint: start every component at 0 and propagate
    ``layer[dst] = max(layer[dst], layer[src] + 1)`` until no change —
    on a DAG this terminates in (longest path length) supersteps, and
    seeding ALL nodes at 0 is equivalent to seeding sources only (any
    maximal path extends backwards to an in-degree-0 component).
    Frontier-pruned: only components whose layer rose last round send.
    """
    labels = scc(graph).persist()
    cedges = condensation_edges(graph, labels).persist()
    state = (
        labels.select(F.col("scc").alias("cid"))
        .distinct()
        .select("cid", F.lit(0).cast("long").alias("layer"), F.lit(True).alias("chg"))
        .persist()
    )
    for _ in range(max_depth):
        msgs = (
            state.where("chg")
            .select(F.col("cid").alias("src"), "layer")
            .join(cedges, "src")
            .groupBy(F.col("dst").alias("cid"))
            .agg((F.max("layer") + F.lit(1)).alias("m"))
        )
        state, chg = barrier(
            state,
            state.join(msgs, "cid", "left").select(
                "cid",
                F.greatest(F.col("layer"), F.coalesce(F.col("m"), F.col("layer"))).alias("layer"),
                (F.coalesce(F.col("m"), F.lit(-1)) > F.col("layer")).alias("chg"),
            ),
            F.sum(F.col("chg").cast("int")),
        )
        if (chg[0] or 0) == 0:
            break
    out = labels.join(
        state.select(F.col("cid").alias("scc"), "layer"), "scc"
    ).select("id", "scc", "layer")
    cedges.unpersist()
    return out


def critical_path(
    graph: Graph, costs: DataFrame | None = None, max_depth: int = 200
) -> DataFrame:
    """(id, scc, est, finish) — weighted critical-path (PERT) schedule
    over the SCC condensation: ``est`` = earliest start (max finish of
    any dependency chain into the vertex's component), ``finish`` =
    est + component cost. max(finish) over the table is the critical
    chain's length — the lower bound on wall-clock for a maximally
    parallel build; the argmax chain is the critical path itself.

    ``costs``: optional (id, cost) per-vertex cost table (e.g. measured
    compile seconds, or bytes as a proxy); defaults to the
    SQL-replayable ``(id % 7) + 1`` synthetic cost so the schedule is
    oracle-checkable. Component cost = sum of member costs (a cycle
    must build together). Same max-plus superstep loop as
    :func:`build_layers` with (+ component cost) instead of (+1);
    integer arithmetic throughout, so the oracle match is exact.

    100 TB shape: identical to build_layers — the loop runs on the
    condensation; the only full-width work is the final label join.
    """
    labels = scc(graph).persist()
    if costs is None:
        costs = graph.vertices.select(
            "id", ((F.col("id") % 7) + 1).cast("long").alias("cost")
        )
    csum = (
        labels.join(costs, "id")
        .groupBy("scc")
        .agg(F.sum("cost").alias("w"))
        .withColumnRenamed("scc", "cid")
        .persist()
    )
    cedges = condensation_edges(graph, labels).persist()
    state = csum.select(
        "cid", F.col("w").alias("finish"), F.lit(True).alias("chg")
    ).persist()
    for _ in range(max_depth):
        msgs = (
            state.where("chg")
            .select(F.col("cid").alias("src"), "finish")
            .join(cedges, "src")
            .groupBy(F.col("dst").alias("cid"))
            .agg(F.max("finish").alias("m"))
        )
        state, chg = barrier(
            state,
            state.join(msgs, "cid", "left")
            .join(csum, "cid")
            .select(
                "cid",
                F.greatest(
                    F.col("finish"), F.coalesce(F.col("m") + F.col("w"), F.col("finish"))
                ).alias("finish"),
                (
                    F.coalesce(F.col("m") + F.col("w"), F.lit(-1)) > F.col("finish")
                ).alias("chg"),
            ),
            F.sum(F.col("chg").cast("int")),
        )
        if (chg[0] or 0) == 0:
            break
    # materialize before releasing labels/csum — out's lazy checkpoint
    # still reads them until its first action
    out, _ = barrier(
        None,
        labels.join(state.select(F.col("cid").alias("scc"), "finish"), "scc")
        .join(csum.select(F.col("cid").alias("scc"), "w"), "scc")
        .select(
            "id",
            "scc",
            (F.col("finish") - F.col("w")).alias("est"),
            "finish",
        ),
    )
    release(state)
    cedges.unpersist()
    csum.unpersist()
    labels.unpersist()
    return out


def coupling_metrics(graph: Graph) -> DataFrame:
    """(id, ca, ce, instability): Martin coupling per vertex. Ca =
    distinct in-neighbors (dependents), Ce = distinct out-neighbors
    (dependencies), I = Ce / (Ca + Ce) rounded to 6 dp (every vertex is
    an edge endpoint, so the denominator is >= 1)."""
    e = graph.edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    ca = e.groupBy(F.col("dst").alias("id")).agg(F.count_distinct("src").alias("ca"))
    ce = e.groupBy(F.col("src").alias("id")).agg(F.count_distinct("dst").alias("ce"))
    return (
        graph.vertices.select("id")
        .join(ca, "id", "left")
        .join(ce, "id", "left")
        .select(
            "id",
            F.coalesce("ca", F.lit(0)).cast("long").alias("ca"),
            F.coalesce("ce", F.lit(0)).cast("long").alias("ce"),
        )
        .withColumn(
            "instability",
            F.round(F.col("ce") / (F.col("ca") + F.col("ce")), 6),
        )
    )


def impact_set(graph: Graph, seeds: DataFrame, max_depth: int = 4) -> DataFrame:
    """(seed, impacted): number of distinct vertices (excluding the seed)
    that reach the seed within ``max_depth`` hops — i.e. would be
    impacted by a change to it. ``seeds`` is a one-column (id) frame.

    State is visited (seed, node) pairs; each hop joins the frontier to
    reversed edges, dedups, and anti-joins visited — work per hop is
    proportional to the new fringe, not V.
    """
    rev = (
        graph.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    visited, _ = barrier(
        None, seeds.select(F.col("id").alias("seed"), F.col("id").alias("node"))
    )
    frontier = visited
    for _ in range(max_depth):
        nxt, (n,) = barrier(
            None,
            frontier.join(rev, frontier["node"] == rev["src"])
            .select("seed", F.col("dst").alias("node"))
            .distinct()
            .join(visited, ["seed", "node"], "left_anti"),
        )
        if frontier is not visited:
            release(frontier)
        if n == 0:
            release(nxt)
            break
        visited, _ = barrier(visited, visited.unionByName(nxt))
        frontier = nxt
    out = visited.groupBy("seed").agg(
        (F.count(F.lit(1)) - F.lit(1)).cast("long").alias("impacted")
    )
    return out


def transitive_reduction2(graph: Graph) -> DataFrame:
    """(src, dst, redundant) — every distinct non-loop edge, flagged
    redundant when a 2-hop path src→w→dst also exists (w ≠ src, dst).

    This is the bounded-depth variant of DAG transitive reduction that
    build systems actually run ("shortcut pruning"): full reduction
    needs reachability, but the overwhelming share of redundant
    dependency edges are implied by a single intermediate — and the
    2-path rule stays well-defined on cyclic graphs too. Physical
    shape: one directed wedge self-join on the shared middle vertex +
    a left-semi probe back onto the edge set — the same equi-join
    skeleton as the audited triangle plan; hub middles are AQE's
    skew-join case, not a cross product."""
    e = (
        graph.edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    a = e.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    b = e.select(F.col("src").alias("w"), F.col("dst").alias("v"))
    two = (
        a.join(b, "w")
        .where(F.col("u") != F.col("v"))
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .distinct()
    )
    return e.join(
        two.withColumn("_r", F.lit(True)), ["src", "dst"], "left"
    ).select("src", "dst", F.coalesce("_r", F.lit(False)).alias("redundant"))
