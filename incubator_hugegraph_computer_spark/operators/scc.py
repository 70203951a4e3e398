"""Strongly connected components — trim + forward/backward coloring.

Reference: ``vermeer/algorithms/scc.go`` (248 LoC; coloring +
forward/backward phases driven by ``sccStepType``). Same contract here:
scc id = **min member id** (Vermeer colors by propagated ids and labels
the component with its root). The output is algorithm-independent —
any correct SCC decomposition labeled by min member id is identical —
so the Spark formulation is free to compress rounds.

Spark formulation (the standard distributed ColorSCC):

  0. **trim** — iteratively drop vertices with in-degree 0 or
     out-degree 0 among the remaining subgraph; each is its own SCC.
     Kills all DAG-ish mass (and bounds the outer loop on chain graphs).
  1. **color** — propagate min id forward (out-edges) to fixpoint:
     color[v] = min id that reaches v (including itself).
  2. **backward sweep** — from each root r (color[r] == r), walk
     reversed edges restricted to color class r; every vertex reached
     is in SCC(r) (it reaches r, and r reaches it by construction).
  3. remove assigned vertices, repeat.

Both phases are ``WccProgram`` runs on ``BspEngine(stride=stride,
count_messages=False)`` over the live graph: coloring over its edges,
the sweep over the reverse edges kept within a color class, seeded with
the roots' ids and a sentinel above any id elsewhere (the members are
the rows a root's label reached). The engine's stride fuses ``stride``
hops per barrier, so driver round-trips, convergence probes and lineage
checkpoints drop by that factor, which is what dominates on
high-diameter color classes. Each run's budget is the live vertex
count: no min label crosses more edges than that, so both reach their
fixpoint, however long a cycle is.

Every per-round state passes ``plans/lineage.barrier``: one stored
copy (a lazy localCheckpoint materialized by the round's one action),
then the previous round's state is released — chained eager
checkpoints were measured to double per-round cost from ~round 16 and
OOM the driver near round 60 (PLANS.md "Lineage discipline"). The
answer is stored once at the end and every round's frame is released,
so a call leaves only its output stored.

Regime split: a cached graph that fits ``plans/local.LOCAL_EDGES``
(``plans/local.fits``, which reads the counts the cached graph keeps)
is labelled on the driver at entry (numpy CSR + iterative Tarjan, min
member id), before any barrier. An uncached graph, such as one a
caller derived, keeps the in-loop switch: a test at entry would
compute it once per count and once per pull, where the first barriers
store and count it once. From there each edge barrier's row is the
live edge count, and the live vertex count is in hand too. Once both
are at or below ``plans/local.LOCAL_EDGES`` the loop stops and labels the live
vertices and edges on the driver, since every Spark round left would
be fixed cost; the labels join the answer's final barrier, or are the
answer when no Spark round assigned anything. The constant is a driver
budget below the measured Spark-vs-driver crossover (PLANS.md
"Driver-finished tails"). Above it this Spark loop runs unchanged: it
is the scale path.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.operators.wcc import WccProgram
from incubator_hugegraph_computer_spark.plans import local
from incubator_hugegraph_computer_spark.plans.bsp import BspEngine
from incubator_hugegraph_computer_spark.plans.lineage import barrier, release


# The sweep's seed for a vertex that is not a root: above any id, so
# every label below it is a root's.
_UNREACHED = 2**63 - 1


class _RootSweep(WccProgram):
    """The backward sweep as min-label propagation over reverse edges kept
    within one color class: a root (``comp == id`` in the coloring) starts
    at its own id and every other vertex at ``_UNREACHED``, so a vertex
    ends at its class root's id exactly when it reaches the root."""

    name = "scc_sweep"

    def initial_state(self, graph: Graph) -> DataFrame:
        root = F.col("comp") == F.col("id")
        return graph.vertices.select(
            "id",
            F.when(root, F.col("id")).otherwise(F.lit(_UNREACHED)).alias("comp"),
            root.alias("active"),
        )


def scc(graph: Graph, max_outer: int = 50, stride: int = 4) -> DataFrame:
    """(id, scc) with scc = min member id of the strongly connected
    component."""
    if graph.is_cached and local.fits(graph):
        return local.scc_labels(graph.vertices, graph.edges)
    spark = graph.spark
    id_type = graph.vertices.schema["id"].dataType
    assigned_parts: list[DataFrame] = []
    verts, (n_verts,) = barrier(None, graph.vertices.select("id"))
    edges, (n_edges,) = barrier(
        None, graph.edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    )

    for _ in range(max_outer):
        if n_verts == 0 or max(n_verts, n_edges) <= local.LOCAL_EDGES:
            break
        # ---- trim loop: peel in/out-degree-0 vertices (own SCCs).
        # Rounds are capped — trim is an optimization; anything left
        # untrimmed is handled correctly by the coloring phase.
        trim_rounds = 0
        while trim_rounds < 20:
            trim_rounds += 1
            srcs = edges.select("src").distinct()
            dsts = edges.select("dst").distinct()
            core, (n_core,) = barrier(
                None,
                verts.join(srcs.withColumnRenamed("src", "id"), "id", "left_semi")
                .join(dsts.withColumnRenamed("dst", "id"), "id", "left_semi"),
            )
            if n_core == n_verts:  # stable — no extra anti-join job
                release(core)
                break
            trimmed, _ = barrier(
                None,
                verts.join(core, "id", "left_anti").select(
                    "id", F.col("id").alias("scc")
                ),
            )
            assigned_parts.append(trimmed)
            release(verts)
            verts, n_verts = core, n_core
            edges, (n_edges,) = barrier(
                edges,
                edges.join(verts.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(verts.withColumnRenamed("id", "dst"), "dst", "left_semi"),
            )
            if max(n_verts, n_edges) <= local.LOCAL_EDGES:
                break
        if n_verts == 0 or max(n_verts, n_edges) <= local.LOCAL_EDGES:
            break

        # The trimmed core is usually orders of magnitude smaller than
        # the input (DAG mass is gone) while the cached edge frame still
        # carries full-width partitioning — every propagate barrier then
        # pays full task scheduling on a tiny graph. Re-bucket the core
        # by src once per outer round; src is the coloring/sweep join
        # key, so the cached layout feeds every hop without reshuffling
        # the edge side.
        parts = min(graph.num_partitions, max(4, n_verts // 25_000 + 1))
        if parts < graph.num_partitions:
            edges, _ = barrier(edges, edges.repartition(parts, "src"))

        # ---- color forward (min id reaching each vertex), then sweep
        # backward from each root within its color class. A min label
        # crosses at most n_verts - 1 edges, so a budget of n_verts
        # supersteps ends each run with a superstep that changes nothing.
        min_labels = dict(max_supersteps=n_verts, stride=stride, count_messages=False)
        color, _ = BspEngine(
            Graph(verts, edges, parts, prepartitioned=True), **min_labels
        ).run(WccProgram())
        rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        colored_rev, _ = barrier(
            None,
            rev.join(
                color.select(F.col("id").alias("src"), F.col("comp").alias("c_src")), "src"
            )
            .join(color.select(F.col("id").alias("dst"), F.col("comp").alias("c_dst")), "dst")
            .where(F.col("c_src") == F.col("c_dst"))
            .select("src", "dst")
            .repartition(parts, "src"),
        )
        swept, _ = BspEngine(
            Graph(color, colored_rev, parts, prepartitioned=True), **min_labels
        ).run(_RootSweep())
        release(color)
        release(colored_rev)
        members, _ = barrier(
            None,
            swept.where(F.col("comp") != _UNREACHED).select(
                "id", F.col("comp").cast(id_type).alias("scc")
            ),
        )
        assigned_parts.append(members)
        verts, (n_verts,) = barrier(
            verts, swept.where(F.col("comp") == _UNREACHED).select("id")
        )
        release(swept)
        edges, (n_edges,) = barrier(
            edges,
            edges.join(verts.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(verts.withColumnRenamed("id", "dst"), "dst", "left_semi"),
        )
    driver_part: list[DataFrame] = []
    if n_verts != 0 and max(n_verts, n_edges) <= local.LOCAL_EDGES:
        # a small live graph: the rounds left are fixed cost, finish here
        driver_part.append(local.scc_labels(verts, edges))
    elif n_verts != 0:
        # assigning fewer rows than graph.vertices with no error would
        # silently corrupt every downstream join
        raise RuntimeError(
            f"scc did not assign every vertex within max_outer={max_outer} "
            "outer iterations (pathological SCC-chain input) — raise max_outer"
        )
    release(verts)
    release(edges)

    if not assigned_parts:
        # no Spark round assigned anything: the driver's labels, which
        # live in the driver already, are the whole answer
        return driver_part[0] if driver_part else spark.createDataFrame([], "id long, scc long")
    # one stored copy of the answer; the parts it was built from go
    out, _ = barrier(None, reduce(DataFrame.unionAll, assigned_parts + driver_part))
    for p in assigned_parts:
        release(p)
    return out
