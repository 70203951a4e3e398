"""Louvain modularity community detection (synchronous, distributed).

Reference: ``vermeer/algorithms/louvain.go`` (710 LoC; weighted variant
``louvain_weighted.go``; resolution param at :101-131). Louvain is
inherently order-dependent — Vermeer's own tests only band-check
modularity — so this engine pins determinism instead of replicating the
Go engine's scan order:

- **synchronous move phase** with a parity schedule (only vertices with
  hash(id) % 2 == iteration % 2 may move each inner step) — the
  standard fix for the simultaneous-move oscillation of parallel
  Louvain (cf. "Community Detection on the GPU" / distributed Louvain
  literature)
- ties broken by min community id
- **contraction phase**: communities collapse to supervertices, edge
  weights sum, self-loops carry internal weight; repeat until the move
  phase stops improving.

Graph representation: symmetric adjacency A as directed-both-ways rows
(i, j, w) with self-loops stored as A_ii (already doubled), so
k_i = Σ_j A_ij and 2m = Σ_ij A_ij — the textbook bookkeeping.

Everything is joins + groupBys; each inner step is ~3 shuffles over
E rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.operators.triangle_count import undirected_edges
from incubator_hugegraph_computer_spark.plans.lineage import barrier, release

# V-row frames (communities, totals, move results) ride broadcast joins
# while the level has at most this many vertices; beyond it, Spark's
# shuffle planning takes over untouched.
_BCAST_V = 2_000_000
# frontier-pruning bookkeeping only arms on levels whose adjacency is
# big enough for the pruned E-row scan to out-earn the changed-set job
_PRUNE_MIN_E = 2_000_000


def _initial_adjacency(graph: Graph, weight_col: str | None = None) -> DataFrame:
    """(i, j, w) symmetric; input graph undirected-deduplicated.

    With ``weight_col`` (louvain_weighted.go semantics) parallel and
    reverse edges sum their weights into one symmetric entry; without,
    every distinct undirected edge weighs 1."""
    if weight_col is None:
        und = undirected_edges(graph.edges)  # (a, b), a < b, no loops
        w = F.lit(1.0)
        return und.select(
            F.col("a").alias("i"), F.col("b").alias("j"), w.alias("w")
        ).unionAll(und.select(F.col("b").alias("i"), F.col("a").alias("j"), w.alias("w")))
    e = graph.edges.where(F.col("src") != F.col("dst")).select(
        "src", "dst", F.col(weight_col).cast("double").alias("w")
    )
    sym = e.select(F.col("src").alias("i"), F.col("dst").alias("j"), "w").unionAll(
        e.select(F.col("dst").alias("i"), F.col("src").alias("j"), "w")
    )
    return sym.groupBy("i", "j").agg(F.sum("w").alias("w"))


def _move_phase(
    adj: DataFrame, two_m: float, resolution: float, max_inner: int
) -> DataFrame:
    """One level of local moves. Returns (id, c) assignment.

    Two scale-adaptive mechanisms, both exactness-preserving (the
    returned assignment is hash-identical to the plain schedule):

    **Small-side broadcast.** Every per-step join pairs the E-row
    adjacency (or an E-row aggregate) with a V-row frame (communities,
    totals, move results). While V is small enough to broadcast
    (≤ ``_BCAST_V``), hint those sides broadcast — an inner step then
    shuffles only its two aggregations instead of five exchanges. At
    cluster scale V outgrows the bound and the joins revert to Spark's
    shuffle planning untouched.

    **Exact frontier pruning.** A vertex's move decision at inner step
    ``it`` is a deterministic function of (its neighbors' communities,
    the tot of its candidate communities, the direction parity
    ``it % 2``). If none of those inputs changed since the vertex was
    last evaluated at the SAME parity — i.e. across the last TWO steps —
    its decision replays its step-(it−2) decision, which was "stay"
    (had it moved, its own community would be in the changed set). So
    only vertices in or adjacent to a community that gained/lost a
    member during the last two steps need re-scoring; the rest keep
    their assignment with zero work. The bookkeeping (a changed-set job
    per step) is armed only while it can pay: the adjacency is large
    (> ``_PRUNE_MIN_E`` rows) and the move rate has dropped below 10% —
    on small levels or hot early steps the step runs unpruned, which is
    the same exact computation."""
    k = adj.groupBy(F.col("i").alias("id")).agg(F.sum("w").alias("k")).persist()
    comm, (n_vertices,) = barrier(
        None, k.select("id", F.col("id").alias("c"), "k")
    )
    small = n_vertices <= _BCAST_V
    bc = F.broadcast if small else (lambda df: df)
    n_edge_rows = adj.count()  # cached by the caller — a cache scan
    prune_capable = n_edge_rows > _PRUNE_MIN_E
    zero_streak = 0
    changed_hist: list[DataFrame | None] = [None, None]  # steps it-1, it-2
    for it in range(max_inner):
        ktot = comm.groupBy("c").agg(F.sum("k").alias("tot"))
        cj = comm.select(F.col("id").alias("j"), F.col("c").alias("c_j"))
        cand_ids = None
        c1, c2 = changed_hist
        if c1 is not None and c2 is not None:
            changed2 = c1.unionAll(c2).distinct()
            members, (n_members,) = barrier(
                None,
                comm.join(
                    F.broadcast(changed2.withColumnRenamed("cc", "c")), "c", "semi"
                ).select("id"),
            )
            if n_members == 0:
                # nobody's inputs changed for two consecutive steps —
                # both parities replay "stay"; the level is converged
                release(members)
                break
            if n_members <= max(100_000, n_vertices // 3):
                nbrs = (
                    adj.join(
                        F.broadcast(members.withColumnRenamed("id", "j")), "j", "semi"
                    )
                    .select(F.col("i").alias("id"))
                    .distinct()
                )
                cand_ids, (n_cand,) = barrier(
                    None, members.unionAll(nbrs).distinct()
                )
                if n_cand > max(100_000, n_vertices // 2):
                    release(cand_ids)
                    cand_ids = None
            release(members)
        adj_f = (
            adj
            if cand_ids is None
            else adj.join(
                F.broadcast(cand_ids.withColumnRenamed("id", "i")), "i", "semi"
            )
        )
        # weight from i into each neighboring community (self excluded)
        k_in = (
            adj_f.where(F.col("i") != F.col("j"))
            .join(cj, "j")
            .groupBy("i", "c_j")
            .agg(F.sum("w").alias("k_in"))
        )
        cur = comm.select(F.col("id").alias("i"), F.col("c").alias("c_i"), "k")
        if cand_ids is not None:
            cur = cur.join(
                F.broadcast(cand_ids.withColumnRenamed("id", "i")), "i", "semi"
            )
        # Candidate scores in ONE pass over the (i, neighbor-community)
        # frame: attach c_i/k (join on i) and tot (ktot rides a broadcast
        # while small — no E-side shuffle), score every row with the
        # exact tot_excl formula (own community subtracts its own k),
        # then a single groupBy(i) yields both the best FOREIGN candidate
        # and the own-community score. The own community needs no
        # synthetic union row: a move must be STRICTLY better than
        # staying, so own can never win — vertices whose own-community
        # row is absent from k_in (no neighbor shares their community)
        # get their stay score reconstructed from ktot afterwards.
        nb = k_in.join(cur, "i").join(
            bc(ktot.withColumnRenamed("c", "c_j")), "c_j"
        )
        tot_excl = F.col("tot") - F.when(F.col("c_j") == F.col("c_i"), F.col("k")).otherwise(0.0)
        score = F.col("k_in") - F.lit(resolution) * F.col("k") * tot_excl / F.lit(two_m)
        best = (
            nb.withColumn("score", score)
            .groupBy("i")
            .agg(
                F.max(
                    F.when(
                        F.col("c_j") != F.col("c_i"),
                        F.struct(F.col("score"), (-F.col("c_j")).alias("neg_c")),
                    )
                ).alias("b"),
                F.max(
                    F.when(F.col("c_j") == F.col("c_i"), F.col("score")).otherwise(None)
                ).alias("stay_raw"),
                F.first("c_i").alias("c_i"),
                F.first("k").alias("k_i"),
            )
            .join(bc(ktot.withColumnRenamed("c", "c_i")), "c_i")
            .select(
                F.col("i").alias("id"),
                F.col("b.neg_c").alias("neg_c"),
                (-F.col("b.neg_c")).alias("best_c"),
                (
                    F.col("b.score")
                    > F.coalesce(
                        F.col("stay_raw"),
                        -F.lit(resolution)
                        * F.col("k_i")
                        * (F.col("tot") - F.col("k_i"))
                        / F.lit(two_m),
                    )
                    + 1e-12
                ).alias("better"),
                "c_i",
            )
        )
        # Simultaneous moves can livelock: two vertices swapping into
        # each other's community every round. Gate by direction — even
        # inner iterations admit only moves to a LOWER community id,
        # odd ones only HIGHER — so a 2-swap (one down + one up) can
        # never happen in one round, and a same-direction move chain
        # cannot cycle (community ids strictly decrease/increase).
        move_down = F.col("best_c") < F.col("c_i")
        dir_ok = move_down if it % 2 == 0 else ~move_down
        mv_cond = F.col("neg_c").isNotNull() & F.col("better") & dir_ok
        moved = best.where(mv_cond).select(
            "id", F.col("best_c").alias("c_new"), F.lit(1).alias("mv_new")
        )
        # left join: vertices without a `moved` row — pruned, or with no
        # strictly-better admissible target — keep their community. One
        # action materializes the new state AND reads off the move count.
        comm, row = barrier(
            comm,
            comm.select("id", "k", F.col("c").alias("c_prev"))
            .join(moved, "id", "left")
            .select(
                "id",
                "k",
                F.coalesce("c_new", F.col("c_prev")).alias("c"),
                F.coalesce("mv_new", F.lit(0)).alias("mv"),
                "c_prev",
            ),
            F.sum("mv"),
        )
        n_moves = row[0] or 0
        # track the touched-community frontier only while pruning can
        # engage (big adjacency, cooled-down move rate) — otherwise the
        # changed-set job is pure per-step overhead
        if prune_capable and n_moves < n_vertices * 0.10:
            changed_t: DataFrame | None = barrier(
                None,
                comm.where(F.col("mv") == 1)
                .select(F.explode(F.array("c_prev", "c")).alias("cc"))
                .distinct(),
            )[0]
        else:
            changed_t = None
        dropped = changed_hist[1]
        changed_hist = [changed_t, changed_hist[0]]
        if dropped is not None:
            release(dropped)
        if cand_ids is not None:
            release(cand_ids)
        # A round admits only one move direction (down on even it, up on
        # odd), so a single zero-move round may just mean every improving
        # move pointed the blocked way — converged only after BOTH
        # directions come up empty back-to-back.
        zero_streak = zero_streak + 1 if n_moves == 0 else 0
        if zero_streak >= 2:
            break
    k.unpersist()
    for ch in changed_hist:
        if ch is not None:
            release(ch)
    # materialized 2-col result; the internal move state is released —
    # the caller owns (and releases) the returned frame
    return barrier(comm, comm.select("id", "c"))[0]


def louvain(
    graph: Graph,
    max_levels: int = 5,
    max_inner: int = 10,
    resolution: float = 1.0,
    weight_col: str | None = None,
) -> DataFrame:
    """(id, community) — community = representative supervertex id
    (min id within community at each contraction, applied recursively).
    ``weight_col`` selects the weighted variant (louvain_weighted.go)."""
    # Hash-partition the adjacency on j and KEEP that layout in the
    # cache: the move phase joins adj⋈comm on j once per inner step, and
    # a cached relation advertises its partitioning, so only the V-row
    # community frame shuffles each step — the E-row side stays put
    # (the dominant per-step shuffle at scale). Contraction joins on i
    # once per LEVEL and pays one reshuffle; inner steps run max_inner
    # times per level, so j wins.
    adj = (
        _initial_adjacency(graph, weight_col)
        .repartition(graph.num_partitions, "j")
        .persist()
    )
    two_m = adj.agg(F.sum("w")).first()[0] or 0.0
    if two_m == 0:
        return graph.vertices.select("id", F.col("id").alias("community"))
    # mapping from original vertex to current-level supervertex
    mapping, _ = barrier(
        None,
        adj.select(F.col("i").alias("id")).distinct().select(
            "id", F.col("id").alias("node")
        ),
    )

    for _ in range(max_levels):
        raw_assignment = _move_phase(adj, two_m, resolution, max_inner)
        # canonicalize community ids to min member (deterministic output)
        canon = raw_assignment.groupBy("c").agg(F.min("id").alias("rep"))
        # one job materializes the assignment AND reads both convergence
        # scalars off it
        assignment, (n_nodes, n_comms) = barrier(
            raw_assignment,
            raw_assignment.join(canon, "c").select("id", F.col("rep").alias("c")),
            F.count(F.lit(1)),
            F.count_distinct("c"),
        )
        mapping, _ = barrier(
            mapping,
            mapping.join(assignment.withColumnRenamed("id", "node"), "node")
            .select("id", F.col("c").alias("node")),
        )
        if n_comms == n_nodes:
            release(assignment)
            break
        # contract: supervertex graph with summed weights (self-loops keep
        # internal mass so k and 2m are preserved exactly)
        ci = assignment.select(F.col("id").alias("i"), F.col("c").alias("new_i"))
        cjj = assignment.select(F.col("id").alias("j"), F.col("c").alias("new_j"))
        # contracted levels are orders of magnitude smaller — size their
        # cached partitioning to the supervertex count instead of paying
        # full-width task scheduling on every inner step of a tiny level
        parts = min(graph.num_partitions, max(4, int(n_comms) // 2000 + 1))
        adj, _ = barrier(
            adj,
            adj.join(ci, "i")
            .join(cjj, "j")
            .groupBy(F.col("new_i").alias("i"), F.col("new_j").alias("j"))
            .agg(F.sum("w").alias("w"))
            .repartition(parts, "j"),
        )
        release(assignment)

    # vertices that never appeared in any edge are their own community
    return (
        graph.vertices.select("id")
        .join(mapping, "id", "left")
        .select("id", F.coalesce(F.col("node"), F.col("id")).alias("community"))
    )
