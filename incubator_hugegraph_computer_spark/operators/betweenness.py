"""Betweenness centrality — sampled Brandes.

Reference: ``computer-algorithm/.../centrality/betweenness/
BetweennessCentrality.java`` (190 LoC): sampled shortest-path counting,
forward BFS paths + backward credit; sampling via Math.random()
(``:41,70-74``). Vermeer's functional tests allow a 0.45 relative error
band for this algorithm — it is inherently approximate under sampling.

Here: exact Brandes (1-source BFS DAG + dependency accumulation) run
simultaneously for a seeded hash-sample of sources, all as DataFrame
layers:

  forward, level by level:  (source, v, dist, sigma)  — sigma = number
    of shortest s→v paths = Σ sigma of predecessors one level up
  backward, deepest level first:  delta(v) += σv/σw · (1 + delta(w))
    over DAG edges v→w with dist(w) = dist(v)+1

State is O(|sources| · V) rows — the reason the reference samples.
Deterministic given ``seed``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans.lineage import barrier, release


def betweenness(
    graph: Graph,
    sample_rate: float = 1.0,
    seed: int = 42,
    max_depth: int = 30,
    sources: DataFrame | None = None,
    per_edge: bool = False,
) -> DataFrame:
    """(id, betweenness) — Σ over sampled sources of Brandes dependency;
    endpoints excluded (standard definition, directed paths).

    ``per_edge=True`` returns (src, dst, betweenness) instead — EDGE
    betweenness (the Girvan–Newman community primitive: repeatedly cut
    the highest-betweenness edge): each DAG edge (v, w) on a shortest
    path earns σ_v/σ_w · (1 + δ_w) per source, exactly the per-edge
    credit the vertex accumulation sums before its groupBy, so the edge
    variant reuses every physical stage and only redirects the final
    aggregation key from v to (v, w). Edges on no sampled shortest path
    report 0."""
    edges = graph.edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct().persist()
    if sources is None:
        sources = graph.vertices.select("id")
        if sample_rate < 1.0:
            # pmod: abs(hash)==MIN_VALUE stays negative and would be
            # sampled at ANY rate — a deterministic bias pmod avoids
            sources = sources.where(
                F.pmod(F.hash(F.col("id"), F.lit(seed)), F.lit(1_000_000))
                < int(sample_rate * 1_000_000)
            )
    # ---------------- forward phase: BFS layers with path counts
    layer, _ = barrier(
        None,
        sources.select(
            F.col("id").alias("source"), F.col("id").alias("v"),
            F.lit(0).alias("dist"), F.lit(1.0).alias("sigma"),
        ),
    )
    layers = [layer]
    # visited = lazy union over the per-level frames. Each LEVEL passes
    # a barrier (one stored checkpoint copy), so the union's plan is k
    # flat checkpoint scans — no nested lineage, and no O(S·V)
    # re-materialization of the visited set every depth (materializing
    # the union itself, as the r4 conversion did, was the measured +34%
    # regression). One action per depth: the barrier's row count doubles
    # as the frontier-empty check.
    visited = layer.select("source", "v")
    depth = 0
    while depth < max_depth:
        depth += 1
        nxt, (n,) = barrier(
            None,
            layer.join(edges, layer.v == edges.src)
            .groupBy("source", F.col("dst").alias("v"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(visited, ["source", "v"], "left_anti")
            .select("source", "v", F.lit(depth).alias("dist"), "sigma"),
        )
        if n == 0:
            release(nxt)
            break
        layers.append(nxt)
        visited = visited.unionAll(nxt.select("source", "v"))
        layer = nxt
    # ---------------- backward phase: dependency accumulation
    # delta for the deepest layer is 0; walk levels upward.
    delta = layers[-1].select("source", "v", F.lit(0.0).alias("delta"))
    stored = list(layers)  # every stored per-level frame, released at the end
    acc: list[DataFrame] = []
    edge_acc: list[DataFrame] = []
    for lvl in range(len(layers) - 2, -1, -1):
        cur = layers[lvl]
        below = layers[lvl + 1].select(
            F.col("source").alias("source_b"),
            F.col("v").alias("w"),
            F.col("sigma").alias("sigma_w"),
        )
        dw = delta.select("source", F.col("v").alias("w"), F.col("delta").alias("delta_w"))
        credits = (
            cur.join(edges, cur.v == edges.src)
            .join(
                below,
                (F.col("dst") == F.col("w")) & (F.col("source") == F.col("source_b")),
            )
            .drop("source_b")
            .join(dw, ["source", "w"], "left")
            .select(
                "source",
                "v",
                "w",
                (
                    (F.col("sigma") / F.col("sigma_w"))
                    * (F.lit(1.0) + F.coalesce(F.col("delta_w"), F.lit(0.0)))
                ).alias("credit"),
            )
        )
        if per_edge:
            # the per-level credit feeds BOTH the edge accumulation and
            # the vertex delta below — materialize it once
            credits, _ = barrier(None, credits)
            stored.append(credits)
            edge_acc.append(credits.select("v", "w", "credit"))
        contrib = credits.groupBy("source", "v").agg(F.sum("credit").alias("delta"))
        delta = (
            cur.select("source", "v")
            .join(contrib, ["source", "v"], "left")
            .select("source", "v", F.coalesce(F.col("delta"), F.lit(0.0)).alias("delta"))
            .localCheckpoint(eager=False)
        )
        stored.append(delta)
        # materialize only every 8th level: in between, levels stay lazy
        # (each lazy checkpoint stores its blocks once, computed inside
        # the next action's job)
        # and the final aggregation's plan nests at most 8 deep — one
        # count job per stride instead of per level, without the
        # unbounded-plan-depth hazard on deep graphs
        if (len(layers) - 2 - lvl) % 8 == 7:
            delta.count()
        acc.append(delta.where(F.col("source") != F.col("v")))
    if per_edge:
        out = edges.select("src", "dst", F.lit(0.0).alias("betweenness"))
        if edge_acc:
            ebc = reduce(DataFrame.unionAll, edge_acc).groupBy(
                F.col("v").alias("src"), F.col("w").alias("dst")
            ).agg(F.sum("credit").alias("betweenness"))
            out = edges.join(ebc, ["src", "dst"], "left").select(
                "src", "dst", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness")
            )
    else:
        out = graph.vertices.select("id", F.lit(0.0).alias("betweenness"))
        if acc:
            bc = reduce(DataFrame.unionAll, acc).groupBy(
                F.col("v").alias("id")
            ).agg(F.sum("delta").alias("betweenness"))
            out = graph.vertices.select("id").join(bc, "id", "left").select(
                "id", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness")
            )
    # the answer is stored once; only then are the frames it was computed
    # from (the edge cache and every level's layer, credit and delta) freed
    out, _ = barrier(None, out)
    edges.unpersist()
    for df in stored:
        release(df)
    return out
