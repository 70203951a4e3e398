"""Weakly connected components — min-id label propagation.

Reference semantics: ``computer-algorithm/.../community/wcc/Wcc.java:32-71``
(adopt the combined min message when smaller, rebroadcast, vote-to-halt)
with Vermeer's explicit symmetrization (min over in AND out neighbors,
``vermeer/algorithms/wcc.go:56-129``) — true weak connectivity without
assuming pre-symmetrized input. Component id = min member id; ids here
are dense non-negative longs so numeric ``min`` reproduces the
reference's BytesId ordering (varint length-first == numeric order for
non-negative longs — ``BytesUtil.compare``, SURVEY §1.3).

Scale shape: the frontier (vertices whose component shrank last step)
is the only message source — ``where(active)`` before the join is the
reference's inactive-vertex skip (``FileGraphPartition.java:213-222``)
and is what makes late supersteps cheap on high-diameter graphs.
"""

from __future__ import annotations

import warnings
from typing import Any

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans.bsp import (
    BspEngine,
    BspProgram,
    SuperstepContext,
    message_pass,
)
from incubator_hugegraph_computer_spark.plans import local
from incubator_hugegraph_computer_spark.plans.lineage import barrier, release


class WccProgram(BspProgram):
    name = "wcc"

    def initial_state(self, graph: Graph) -> DataFrame:
        return graph.vertices.select(
            "id", F.col("id").alias("comp"), F.lit(True).alias("active")
        )

    def messages(self, state: DataFrame, graph: Graph, ctx: SuperstepContext) -> DataFrame:
        return message_pass(
            state, graph, msg_col=F.col("comp"), frontier_filter=F.col("active")
        )

    def combine(self, messages: DataFrame) -> DataFrame:
        # ValueMinCombiner (computer-api/.../combiner/ValueMinCombiner.java);
        # map-side partial min == sender-side combining.
        return messages.groupBy(F.col("dst").alias("id")).agg(F.min("msg").alias("msg"))

    def update(self, state: DataFrame, inbox: DataFrame, ctx: SuperstepContext) -> DataFrame:
        new_comp = F.least(F.col("comp"), F.coalesce(F.col("msg"), F.col("comp")))
        return state.join(inbox, "id", "left").select(
            "id",
            new_comp.alias("comp"),
            (new_comp < F.col("comp")).alias("active"),
        )


def wcc(
    graph: Graph,
    max_supersteps: int = 100,
    presymmetrized: bool = False,
    **engine_kwargs,
) -> DataFrame:
    """(id, comp) over the symmetrized graph; comp = min id in component.

    max_supersteps bounds at graph diameter; the engine's built-in
    no-messages-and-no-active termination fires at convergence.
    ``presymmetrized=True`` skips the one-time symmetrization shuffle —
    pass it when the caller's edge table is already the undirected
    distinct set (e.g. built once at ingest and reused across
    algorithms).

    ``method`` selects the physical strategy (identical output in all
    three): ``"propagate"`` (default) is the reference-shaped min-label
    loop, one hop per barrier; ``"stride"`` runs the same loop with
    ``stride`` hops per barrier (BspEngine's fused schedule — same work,
    1/stride the serial barrier cost; every join stays keyed on the
    uniform vertex id, none on the skewed label value);
    ``"contract"`` is the alternating large-star/small-star edge
    contraction (Kiveris et al., SoCC'14) — O(log n) rounds regardless
    of diameter (8 rounds where propagate needs 98 on the sf0.1
    percolation edge graph), the right choice for high-diameter /
    chain-heavy graphs. ``max_supersteps`` counts hops under
    ``propagate`` and ``stride`` alike (rounds under ``contract``), so
    a budget-truncated stride run returns, and warns about, the same
    labels as propagate."""
    resume = engine_kwargs.pop("resume", False)
    method = engine_kwargs.pop("method", "propagate")
    stride = engine_kwargs.pop("stride", 4)
    if method not in ("propagate", "stride", "contract"):
        raise ValueError(
            f"wcc method must be 'propagate', 'stride' or 'contract', got {method!r}"
        )
    if method == "contract":
        engine_kwargs.pop("count_messages", None)
        return wcc_contract(graph, max_rounds=max_supersteps)
    g = graph if presymmetrized else graph.symmetrized().cache()
    engine = BspEngine(
        g,
        max_supersteps=max_supersteps,
        stride=stride if method == "stride" else 1,
        **engine_kwargs,
    )
    state, ctx = engine.run(WccProgram(), resume=resume)
    if ctx.active_vertices > 0:
        # the run stopped at max_supersteps, not at convergence — the
        # labels are an under-merged partition (more components than the
        # true count). Unlike PageRank, a truncated WCC is simply wrong.
        warnings.warn(
            f"wcc({method}) hit max_supersteps={max_supersteps} with "
            f"{ctx.active_vertices} vertices still active — labels are "
            "not converged; raise max_supersteps or use method='contract'",
            stacklevel=2,
        )
    result = state.select("id", "comp")
    if not presymmetrized:
        # the final state is persisted/truncated by the engine, so the
        # symmetrized-edge cache this call created is no longer needed —
        # without this every wcc() call (e.g. one per dedup_clusters
        # pass) leaks a cached edge set for the session lifetime
        g.unpersist()
    return result


def wcc_contract(graph: Graph, max_rounds: int = 100) -> DataFrame:
    """(id, comp) via alternating large-star / small-star edge
    contraction — Kiveris et al., "Connected Components in MapReduce
    and Beyond" (SoCC'14). Same output contract as ``wcc`` (comp = min
    member id: the fixpoint's star roots are the component minima), but
    O(log n) rounds independent of graph DIAMETER, where min-label
    propagation needs O(diameter) barriers. Measured on the sf0.1
    3-clique-percolation edge graph (32k nodes, diameter ≥ 122):
    8 rounds here vs 98 propagate supersteps.

    Per round (2 shuffles per star op, all keyed on uniform node ids):
      large-star: every node u links its LARGER neighbors to
        m(u) = min(Γ(u) ∪ {u});
      small-star: every node u links its smaller neighbors (and itself)
        to m(u) = min of the smaller neighbors.
    The edge set monotonically contracts toward disjoint stars; the
    (count, hash-sum) fingerprint of the canonical edge set is the
    convergence test — one scalar action per round, and lineage is cut
    per round with a lazy localCheckpoint exactly like the BSP engine.

    Regime split: the fingerprint's count is the live edge count. At or
    below ``plans/local.LOCAL_EDGES`` (the canonical input included) the
    loop stops and labels the live edges on the driver (numpy
    union-find, min id); contraction keeps every component and its
    minimum, so the labels are the fixpoint's. The constant comes from
    the measured Spark-vs-driver crossover (PLANS.md "Driver-finished
    tails"); above it the contraction runs unchanged as the scale path.

    Unlike the superstep family this rewrites EDGES, so it runs outside
    ``BspEngine``; vertices never touched by an edge keep comp = id.
    """
    g = graph
    # (count, hash-sum) fingerprint of the canonical edge set; bit_xor is
    # order-independent and overflow-free under ANSI mode
    fingerprint = (F.count(F.lit(1)), F.expr("bit_xor(xxhash64(a, b))"))
    # canonical undirected edge set: (a < b), self-loops dropped
    edges, fp = barrier(
        None,
        g.edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct(),
        *fingerprint,
    )
    converged = False
    for _ in range(max_rounds):
        if fp[0] <= local.LOCAL_EDGES:
            break
        # ---- large-star: group the symmetrized adjacency by u --------
        sym = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
            edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        # each canonical edge (a,b) emits once via its smaller endpoint:
        # v > u  ⇒  m ≤ u < v, so (m, v) is already canonically ordered
        ls = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .distinct()
        )
        # ---- small-star: group by the LARGER endpoint ----------------
        smins = ls.groupBy("b").agg(F.min("a").alias("m"))
        ss = (
            ls.join(smins, "b")
            .where(F.col("a") != F.col("m"))
            .select(F.col("m").alias("a"), F.col("a").alias("b"))
            .unionAll(smins.select(F.col("m").alias("a"), "b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        edges, nxt = barrier(edges, ss, *fingerprint)
        converged, fp = nxt == fp, nxt
        if converged:
            break
    if not converged and fp[0] <= local.LOCAL_EDGES:
        # a small live edge set: the rounds left are fixed cost, finish
        # here (contraction kept every component and its min id)
        labels = local.wcc_labels(edges)
    else:
        if not converged:
            warnings.warn(
                f"wcc_contract stopped at max_rounds={max_rounds} before the "
                "edge set stabilized — labels are not converged",
                stacklevel=2,
            )
        # fixpoint = disjoint stars rooted at each component's min id
        labels = edges.select(F.col("b").alias("id"), F.col("a").alias("comp"))
    out, _ = barrier(
        edges,
        g.vertices.select("id")
        .join(labels, "id", "left")
        .select("id", F.coalesce("comp", "id").alias("comp")),
    )
    return out


def wcc_superstep_metrics(
    graph: Graph,
    max_supersteps: int = 10,
    presymmetrized: bool = False,
) -> DataFrame:
    """Per-superstep BSP counters for a WCC run — (superstep,
    messages_sent, active_vertices), one row per executed superstep.

    The reference persists exactly these counters with every superstep:
    ``MasterService`` aggregates per-worker active-vertex / sent-message
    counts into the superstep stat it logs and uses for the termination
    rule (``computer-core/.../master/MasterService.java`` finishedIteration),
    and ``FileGraphPartition`` tracks the per-partition message/vertex
    counts that feed it. This surfaces the engine's equivalent
    (``BspEngine`` ctx.stats — the same rows the checkpoint backend
    writes to metrics.jsonl) as a queryable DataFrame, so the counters
    themselves are oracle-checkable:

    - ``messages_sent``  = combined-inbox size of the superstep (rows
      after the min-combiner = distinct destinations messaged by the
      frontier — the post-combine count the reference's shuffle emits)
    - ``active_vertices`` = vertices whose component shrank this step

    Rows stop exactly where the reference's termination rule fires: the
    first superstep with no messages AND no active vertices is the last
    row emitted. Deterministic given the graph, hence SQL-oracled.
    """
    g = graph if presymmetrized else graph.symmetrized().cache()
    engine = BspEngine(g, max_supersteps=max_supersteps, count_messages=True)
    state, ctx = engine.run(WccProgram())
    rows = [
        (k, int(m["messages_sent"]), int(m["active_vertices"]))
        for k, m in enumerate(ctx.stats, start=1)
    ]
    out = g.spark.createDataFrame(
        rows, "superstep int, messages_sent long, active_vertices long"
    )
    release(state)
    if not presymmetrized:
        g.unpersist()
    return out


def wcc_incremental(
    prev_labels: DataFrame,
    new_edges: DataFrame,
    max_supersteps: int = 100,
    **engine_kwargs,
) -> DataFrame:
    """Maintain WCC labels under an edge DELTA without rescanning the
    old edge set — the operation a web-scale deployment actually runs
    per crawl/commit batch (nobody recomputes components over 10^12
    files because one day's imports landed).

    ``prev_labels``: (id, comp) — a correct WCC labeling of the old
    graph (comp = min member id, as ``wcc`` produces). ``new_edges``:
    (src, dst) delta (direction irrelevant — weak connectivity).
    Returns (id, comp) correct for old ∪ delta, covering old vertices
    plus any vertices the delta introduces.

    Correctness: contract each old component to its label. Any path in
    the merged graph alternates old-component interiors (connected by
    induction) with delta edges, so two vertices are weakly connected
    in the merged graph iff their labels are connected in the
    contracted multigraph {(comp(u), comp(v)) : (u,v) ∈ delta}. Labels
    are min member ids, so min-propagation over the contracted graph
    yields exactly the merged graph's min member id per component.

    Scale shape: the contracted graph has ≤ 2·|delta| vertices and
    ≤ |delta| edges — the BSP run costs O(|delta|), independent of
    |E_old|; the only full-width work is ONE V-row hash join to apply
    the relabeling (and old components untouched by the delta join to
    nothing and keep their label). Reference parity: output identical
    to ``wcc`` on the union graph (``Wcc.java:32-71`` semantics);
    parity-tested in tests/test_neighborhood_metrics.py.
    """
    prev = prev_labels.select("id", "comp")
    delta_ids = (
        new_edges.select(F.col("src").alias("id"))
        .unionAll(new_edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    fresh = delta_ids.join(prev.select("id"), "id", "left_anti").select(
        "id", F.col("id").alias("comp")
    )
    all_labels = prev.unionAll(fresh)
    lab_s = all_labels.select(F.col("id").alias("src"), F.col("comp").alias("_cs"))
    lab_d = all_labels.select(F.col("id").alias("dst"), F.col("comp").alias("_cd"))
    contracted = (
        new_edges.select("src", "dst")
        .join(lab_s, "src")
        .join(lab_d, "dst")
        .select(F.col("_cs").alias("src"), F.col("_cd").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    if contracted.isEmpty():
        return all_labels
    mapping = wcc(
        Graph.from_edges(contracted), max_supersteps=max_supersteps, **engine_kwargs
    ).select(F.col("id").alias("_oldcomp"), F.col("comp").alias("_newcomp"))
    return (
        all_labels.join(mapping, all_labels.comp == mapping._oldcomp, "left")
        .select("id", F.coalesce("_newcomp", "comp").alias("comp"))
    )
