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

Round compression (same trick as ``wcc.py`` WccStrideProgram): both
inner loops unroll ``stride`` propagation hops per materialization
barrier — the shuffle count per hop is unchanged, but driver
round-trips, convergence probes and lineage checkpoints drop by the
stride factor, which is what dominates on high-diameter color classes.
Every per-round state passes ``plans/lineage.barrier``: one stored
copy (a lazy localCheckpoint materialized by the round's one action),
then the previous round's state is released — chained eager
checkpoints were measured to double per-round cost from ~round 16 and
OOM the driver near round 60 (PLANS.md "Lineage discipline"). The
answer is stored once at the end and every round's frame is released,
so a call leaves only its output stored.

Regime split: each edge barrier's row is the live edge count, and the
live vertex count is in hand too. Once both are at or below
``plans/local.LOCAL_EDGES`` the loop stops and labels the live
vertices and edges on the driver (numpy CSR + iterative Tarjan, min
member id), since every Spark round left would be fixed cost; the
labels join the answer's final barrier, or are the answer when no
Spark round assigned anything. The constant comes from the
measured Spark-vs-driver crossover (PLANS.md "Driver-finished tails").
Above it this Spark loop runs unchanged: it is the scale path.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans import local
from incubator_hugegraph_computer_spark.plans.lineage import barrier, release


def _propagate_min(
    vertices: DataFrame, edges: DataFrame, max_iter: int = 100, stride: int = 4
) -> DataFrame:
    """(id, color): min source id reaching each vertex along edges.

    ``stride`` forward hops run per barrier; convergence is probed per
    barrier (at most ``stride - 1`` no-op hops after the true fixpoint,
    each a cheap empty-frontier join)."""
    state, _ = barrier(
        None,
        vertices.select("id", F.col("id").alias("color"), F.lit(True).alias("chg")),
    )
    for _ in range(0, max_iter, stride):
        cur = state
        for _hop in range(stride):
            # delta propagation: only vertices whose color changed in
            # the previous hop send — late hops touch a shrinking
            # frontier instead of re-joining every vertex to E
            msgs = (
                cur.where("chg")
                .select(F.col("id").alias("src"), "color")
                .join(edges, "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("color").alias("m"))
            )
            cur = cur.join(msgs, "id", "left").select(
                "id",
                F.least(
                    F.col("color"), F.coalesce(F.col("m"), F.col("color"))
                ).alias("color"),
                F.coalesce(F.col("m") < F.col("color"), F.lit(False)).alias("chg"),
            )
        # one action: materializes the new state AND probes convergence
        # (a barrier whose frontier produced no change is a fixpoint —
        # min propagation only triggers from prior changes)
        state, row = barrier(state, cur, F.sum(F.col("chg").cast("int")))
        if (row[0] or 0) == 0:
            break
    # hand back a materialized 2-col frame and release the internal
    # state — callers own (and must release) the returned frame
    return barrier(state, state.select("id", "color"))[0]


def _backward_sweep(
    roots: DataFrame, colored_rev: DataFrame, stride: int = 4
) -> DataFrame:
    """All (id, scc) reached from ``roots`` along ``colored_rev``
    (reverse edges already restricted to equal color classes), as one
    stored frame. ``stride`` frontier expansions per barrier."""
    seed, _ = barrier(None, roots)
    # members = lazy union over the barrier-materialized frontier
    # frames: each leaf is a flat checkpoint scan, so the anti-join pays no
    # nested lineage and the member set is never re-materialized per
    # round (the same shape as betweenness's visited set)
    parts = [seed]
    members = seed
    frontier = seed
    while True:
        cur = frontier
        hops = []
        for _hop in range(stride):
            cur = (
                cur.select(F.col("id").alias("src"), "scc")
                .join(colored_rev, "src")
                .select(F.col("dst").alias("id"), "scc")
                .distinct()
            )
            hops.append(cur)
        grown = hops[0]
        for h in hops[1:]:
            grown = grown.unionAll(h)
        nxt, (n,) = barrier(
            None,
            grown.distinct().join(members.select("id"), "id", "left_anti"),
        )
        if n == 0:
            release(nxt)
            break
        parts.append(nxt)
        members = members.unionAll(nxt)
        frontier = nxt
    members, _ = barrier(None, members)
    for p in parts:
        release(p)
    return members


def scc(graph: Graph, max_outer: int = 50, stride: int = 4) -> DataFrame:
    """(id, scc) with scc = min member id of the strongly connected
    component."""
    spark = graph.spark
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
        # by src once per outer round; src is the propagate/sweep join
        # key, so the cached layout feeds every hop without reshuffling
        # the edge side.
        parts = min(graph.num_partitions, max(4, n_verts // 25_000 + 1))
        if parts < graph.num_partitions:
            edges, _ = barrier(edges, edges.repartition(parts, "src"))

        # ---- color forward (min id), then sweep backward within color
        color = _propagate_min(verts, edges, stride=stride)
        rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        # backward frontier from roots, constrained to same color
        colored_rev, _ = barrier(
            None,
            rev.join(
                color.withColumnRenamed("id", "src").withColumnRenamed(
                    "color", "c_src"
                ),
                "src",
            )
            .join(
                color.withColumnRenamed("id", "dst").withColumnRenamed(
                    "color", "c_dst"
                ),
                "dst",
            )
            .where(F.col("c_src") == F.col("c_dst"))
            .select("src", "dst")
            .repartition(parts, "src"),
        )
        roots = color.where(F.col("color") == F.col("id")).select(
            "id", F.col("color").alias("scc")
        )
        members = _backward_sweep(roots, colored_rev, stride=stride)
        release(color)
        assigned_parts.append(members)
        verts, (n_verts,) = barrier(
            verts, verts.join(members.select("id"), "id", "left_anti")
        )
        edges, (n_edges,) = barrier(
            edges,
            edges.join(verts.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(verts.withColumnRenamed("id", "dst"), "dst", "left_semi"),
        )
        release(colored_rev)
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
