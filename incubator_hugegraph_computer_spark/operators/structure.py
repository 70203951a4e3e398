"""Macro-structure analytics over the link graph: per-edge
embeddedness (local bridges), the rich-club profile, and the Broder
bow-tie decomposition of a directed web graph.

These extend the reference's statistics family (``vermeer/algorithms/
degree.go`` / ``...counts``-style whole-graph reports) with the
standard web-graph structure reports — the reference has no direct
counterpart (SURVEY.md §2.10 beyond-reference additions). All three
are join-aggregate compositions: no Python UDFs, no collected row
sets (the only collects are one-row scalars).

Scale notes (100 TB):

- ``edge_embeddedness`` reuses the degree-oriented triangle kernel
  (``ktruss._support``) — wedge fan-out is bounded by orienting each
  edge low-degree→high-degree, the same trick that keeps triangle
  counting feasible on power-law graphs.
- ``rich_club`` reduces the graph to two bounded histograms (degree →
  node count, per-edge min-degree → edge count) with map-side partial
  aggregation, then evaluates every k against the histograms — one
  pass over the edges regardless of how many thresholds are reported.
- ``bowtie`` runs a constant number of frontier BFS sweeps (4) plus
  one SCC call; every sweep is the standard join-dedup-anti-join
  frontier loop whose per-round shuffle is proportional to the
  frontier, not the graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.operators.ktruss import _support
from incubator_hugegraph_computer_spark.operators.scc import scc
from incubator_hugegraph_computer_spark.operators.triangle_count import undirected_edges
from incubator_hugegraph_computer_spark.plans.lineage import barrier, release


# ------------------------------------------------------------------ edges
def edge_embeddedness(graph: Graph) -> DataFrame:
    """(a, b, embeddedness) — every canonical undirected edge with the
    number of common neighbors of its endpoints (= triangles through
    the edge). Rows with ``embeddedness = 0`` are the graph's *local
    bridges* (Granovetter): deleting one raises the endpoint distance
    above 2."""
    und = undirected_edges(graph.edges)
    sup = _support(und)  # only edges inside >=1 triangle appear
    return (
        und.join(sup, ["a", "b"], "left")
        .select("a", "b", F.coalesce("sup", F.lit(0)).alias("embeddedness"))
    )


def local_bridges(graph: Graph) -> DataFrame:
    """(a, b) — canonical undirected edges whose endpoints share no
    common neighbor."""
    emb = edge_embeddedness(graph)
    return emb.where(F.col("embeddedness") == 0).select("a", "b")


# ------------------------------------------------------------------ rich club
def rich_club(graph: Graph, max_k: int = 16) -> DataFrame:
    """(k, n_nodes, n_edges, phi) for k = 1..max_k over the simple
    undirected graph: the rich-club coefficient
    ``phi(k) = 2 * E_k / (N_k * (N_k - 1))`` where N_k = vertices of
    undirected degree > k and E_k = undirected edges between them
    (Zhou & Mondragon 2004). phi is NULL when N_k < 2.

    A single edge pass: an edge survives threshold k iff
    ``min(deg_a, deg_b) > k``, so both counts come from histograms."""
    spark = graph.spark
    und = undirected_edges(graph.edges)
    deg = (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # bounded histograms: distinct degree values, not vertices/edges
    nhist = deg.groupBy("deg").agg(F.count(F.lit(1)).alias("nc"))
    ehist = (
        und.join(deg.withColumnRenamed("id", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("id", "b").withColumnRenamed("deg", "db"), "b")
        .select(F.least("da", "db").alias("mdeg"))
        .groupBy("mdeg")
        .agg(F.count(F.lit(1)).alias("ec"))
    )
    ks = spark.range(1, max_k + 1).select(F.col("id").alias("k"))

    # threshold "join" as a Generate: a histogram row with value v
    # contributes to every k in 1..min(v-1, max_k) — explode that
    # bounded sequence instead of a non-equi nested-loop join (no BNLJ
    # in the plan at all; output rows ≤ max_k × histogram rows)
    def _thresholds(val_col: str):
        return F.explode(
            F.when(
                F.col(val_col) > 1,
                F.sequence(
                    F.lit(1).cast("long"),
                    F.least(F.col(val_col) - 1, F.lit(max_k).cast("long")),
                ),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("k")

    nk = (
        nhist.select(_thresholds("deg"), "nc")
        .groupBy("k")
        .agg(F.sum("nc").alias("n_nodes"))
    )
    ek = (
        ehist.select(_thresholds("mdeg"), "ec")
        .groupBy("k")
        .agg(F.sum("ec").alias("n_edges"))
    )
    return (
        ks.join(nk, "k", "left")
        .join(ek, "k", "left")
        .select(
            "k",
            F.coalesce("n_nodes", F.lit(0)).alias("n_nodes"),
            F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
            F.when(
                F.coalesce("n_nodes", F.lit(0)) >= 2,
                F.round(
                    2.0
                    * F.coalesce("n_edges", F.lit(0))
                    / (F.col("n_nodes") * (F.col("n_nodes") - F.lit(1))),
                    6,
                ),
            ).alias("phi"),
        )
        .orderBy("k")
    )


# ------------------------------------------------------------------ bow-tie
def _reach(seeds: DataFrame, edges: DataFrame) -> DataFrame:
    """(id) — every vertex reachable from the seed set along ``edges``
    (seeds included). Frontier BFS; each round's state is
    localCheckpoint-truncated so long chains don't grow the plan."""
    members, _ = barrier(None, seeds.select("id").distinct())
    frontier = members
    while True:
        nxt, (n,) = barrier(
            None,
            frontier.withColumnRenamed("id", "src")
            .join(edges, "src")
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(members, "id", "left_anti"),
        )
        if n == 0:
            release(nxt)
            if frontier is not members:
                release(frontier)
            break
        new_members, _ = barrier(members, members.unionAll(nxt))
        if frontier is not members:
            release(frontier)
        members, frontier = new_members, nxt
    return members


def bowtie(graph: Graph, scc_labels: DataFrame | None = None) -> DataFrame:
    """(id, region) — the Broder et al. (WWW 2000) bow-tie map of a
    directed graph: ``CORE`` = largest SCC (ties broken toward the
    smaller scc id), ``IN`` reaches CORE, ``OUT`` is reachable from
    CORE, ``TUBE`` lies on an IN→OUT path that bypasses CORE,
    ``TENDRIL_IN`` hangs off IN, ``TENDRIL_OUT`` feeds OUT, and
    ``DISCONNECTED`` is the rest.

    Pass precomputed ``scc_labels`` (id, scc) to skip the SCC phase.
    """
    comp = scc_labels if scc_labels is not None else scc(graph)
    comp = comp.persist()
    core_row = (
        comp.groupBy("scc")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("scc"))
        .first()
    )
    core_id = core_row["scc"]
    core = comp.where(F.col("scc") == F.lit(core_id)).select("id").persist()

    edges = (
        graph.edges.select("src", "dst").where(F.col("src") != F.col("dst")).persist()
    )
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))

    fwd_core = _reach(core, edges)  # CORE ∪ OUT
    bwd_core = _reach(core, rev)  # CORE ∪ IN
    out_set = fwd_core.join(core, "id", "left_anti").localCheckpoint(eager=True)
    in_set = bwd_core.join(core, "id", "left_anti").localCheckpoint(eager=True)
    # anything in the residue reachable from IN / reaching OUT cannot
    # pass through CORE (it would then be in OUT/IN already), so the
    # plain closures classify TUBE/TENDRIL correctly
    from_in = _reach(in_set, edges)
    to_out = _reach(out_set, rev)

    flag = lambda df, name: df.select("id", F.lit(True).alias(name))  # noqa: E731
    labeled = (
        graph.vertices.select("id")
        .join(flag(core, "f_core"), "id", "left")
        .join(flag(in_set, "f_in"), "id", "left")
        .join(flag(out_set, "f_out"), "id", "left")
        .join(flag(from_in, "f_fi"), "id", "left")
        .join(flag(to_out, "f_to"), "id", "left")
        .select(
            "id",
            F.when(F.col("f_core"), "CORE")
            .when(F.col("f_in"), "IN")
            .when(F.col("f_out"), "OUT")
            .when(F.col("f_fi") & F.col("f_to"), "TUBE")
            .when(F.col("f_fi"), "TENDRIL_IN")
            .when(F.col("f_to"), "TENDRIL_OUT")
            .otherwise("DISCONNECTED")
            .alias("region"),
        )
    )
    out = labeled.localCheckpoint(eager=True)
    comp.unpersist()
    core.unpersist()
    edges.unpersist()
    return out


def attack_tolerance(
    graph, ks=(0, 10, 50), max_supersteps: int = 64, rule: str = "degree",
    seed_salt: str = "fail",
) -> DataFrame:
    """(k, n_components, giant_size) — the Albert–Barabási attack-
    tolerance profile: remove k vertices, rerun connectivity, report
    the fragmentation. ``rule="degree"`` is the targeted attack (top-k
    hubs by undirected degree, ties → min id); ``rule="random"`` is the
    random-failure baseline (deterministic md5 draw, so the "random"
    curve is replayable). A scale-free graph shatters under the first
    and barely notices the second — the gap IS the resilience review.

    Physical shape per k: the cut is a TakeOrdered (never a global
    sort), the removal is two broadcast anti-joins (k rows), then one
    standard WCC. len(ks) WCC runs total — the sampled-curve protocol,
    same trade as the sampled centralities."""
    from incubator_hugegraph_computer_spark.operators.wcc import wcc

    und = graph.symmetrized()
    deg = und.edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    if rule == "random":
        order = [F.md5(F.concat_ws(":", F.col("id").cast("string"),
                                   F.lit(seed_salt))).asc()]
    elif rule == "degree":
        order = [F.col("deg").desc(), F.col("id").asc()]
    else:
        raise ValueError(f"attack rule must be 'degree' or 'random', got {rule!r}")
    outs = []
    for k in ks:
        removed = deg.orderBy(*order).limit(int(k)).select("id")
        verts = graph.vertices.select("id").join(removed, "id", "left_anti")
        kept = (
            und.edges.join(
                removed.select(F.col("id").alias("src")), "src", "left_anti"
            ).join(removed.select(F.col("id").alias("dst")), "dst", "left_anti")
        ).select("src", "dst")
        g2 = Graph(verts, kept)
        # hub removal is exactly what inflates diameter (the resilience
        # curve's whole point), so the post-removal labeling uses the
        # diameter-free edge contraction
        comp = wcc(g2, max_supersteps=max_supersteps, method="contract")
        sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("cnt"))
        outs.append(
            sizes.agg(
                F.countDistinct("comp").alias("n_components"),
                F.max("cnt").alias("giant_size"),
            ).select(
                F.lit(int(k)).alias("k"), "n_components", "giant_size"
            )
        )
    out = outs[0]
    for df in outs[1:]:
        out = out.unionByName(df)
    return out


def collective_influence(graph: Graph, hub_cap: int = 64) -> DataFrame:
    """(id, ci) — Morone-Makse collective influence at radius ℓ=2 over
    the undirected graph: CI(v) = (k_v − 1) · Σ_{u ∈ ∂B(v,2)} (k_u − 1),
    the optimal-percolation influence score that finds the hubs whose
    removal actually fragments the network (plain degree misses
    low-degree bridges between hub clusters).

    ∂B(v,2) = vertices at distance EXACTLY 2 (2-hop distinct set minus
    direct neighbors minus self). ``hub_cap`` bounds the wedge
    intermediary's degree exactly like the link-prediction projection
    (non-binding at gate SFs where max sym degree ≈ 25; declared and
    oracle-replayed where it binds). All arithmetic is exact int64.

    Scale: one wedge self-join bounded by Σ deg(x≤cap)² + two
    anti-joins — the common-neighbor plan shape, with the cap as the
    explicit skew guard.
    """
    from pyspark.sql import functions as F

    sym = graph.symmetrized().edges.select("src", "dst").localCheckpoint(eager=True)
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("k"))
    mid_ok = deg.where(F.col("k") <= hub_cap).select(F.col("id").alias("x"))
    two = (
        sym.select(F.col("src").alias("v"), F.col("dst").alias("x"))
        .join(mid_ok, "x")
        .join(sym.select(F.col("src").alias("x"), F.col("dst").alias("u")), "x")
        .select("v", "u")
        .where(F.col("v") != F.col("u"))
        .distinct()
        .join(
            sym.select(F.col("src").alias("v"), F.col("dst").alias("u")),
            ["v", "u"],
            "left_anti",
        )
    )
    boundary = (
        two.join(deg.select(F.col("id").alias("u"), F.col("k").alias("ku")), "u")
        .groupBy(F.col("v").alias("id"))
        .agg(F.sum(F.col("ku") - 1).cast("long").alias("bsum"))
    )
    return (
        graph.vertices.select("id")
        .join(deg, "id", "left")
        .join(boundary, "id", "left")
        .select(
            "id",
            (
                (F.coalesce("k", F.lit(0)) - 1) * F.coalesce("bsum", F.lit(0))
            ).cast("long").alias("ci"),
        )
    )


def slashburn(graph: Graph, k: int = 16, rounds: int = 3) -> DataFrame:
    """SlashBurn (Kang & Faloutsos ICDM'11) hub-removal profile —
    one row per round: (round, hubs_removed, spokes_removed, gcc_size).

    The web-graph compression/ordering insight: power-law graphs have
    no good cuts, but slashing the top-k hubs shatters the rest into a
    giant component plus tiny "spokes". Repeating on the GCC yields
    the hub⁺spoke ordering that makes 10¹²-edge adjacency matrices
    block-diagonal-ish (compression, cache locality, partitioning).
    This operator reports the shatter profile — how fast the GCC
    collapses — which IS the compressibility measure (wing width ratio).

    Deterministic end-to-end: hubs by (degree DESC, id ASC); GCC by
    (size DESC, comp ASC); both replayed by the oracle. Per round: one
    degree groupBy + a k-row TakeOrdered (broadcast back) + one WCC on
    the shrinking remainder + two semi-joins — the expensive part is
    the per-round WCC, which uses the contract method's O(log n)
    rounds at scale.
    """
    from pyspark.sql import functions as F

    from incubator_hugegraph_computer_spark.graph import Graph as _Graph
    from incubator_hugegraph_computer_spark.operators.wcc import wcc as _wcc

    verts, _ = barrier(None, graph.vertices.select("id"))
    edges, _ = barrier(None, graph.edges.select("src", "dst"))
    out = None
    for r in range(1, rounds + 1):
        sym = (
            edges.select("src", "dst")
            .unionAll(
                edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        deg = verts.join(
            sym.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("d")
            ),
            "id",
            "left",
        ).select("id", F.coalesce("d", F.lit(0)).alias("d"))
        hubs = deg.orderBy(F.desc("d"), F.asc("id")).limit(k).select("id")
        rem_v, _ = barrier(None, verts.join(hubs, "id", "left_anti"))
        rem_e, _ = barrier(
            None,
            edges.join(rem_v.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(rem_v.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .select("src", "dst"),
        )
        comp, _ = barrier(
            None,
            _wcc(_Graph(rem_v, rem_e, prepartitioned=True), count_messages=False),
        )
        sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("n"))
        # NOT lineage-cut: the one-row aggregate must stay in-plan so
        # the broadcast build side is provably bounded (keys=[] agg);
        # comp is checkpointed above, so recomputing pick is one groupBy
        pick = sizes.agg(
            F.coalesce(F.max("n"), F.lit(0)).cast("long").alias("gcc_size"),
            F.expr("max_by(comp, struct(n, -comp))").alias("gcc_comp"),
        )
        n_hubs = hubs.agg(F.count(F.lit(1)).cast("long").alias("hubs_removed"))
        n_rem = rem_v.agg(F.count(F.lit(1)).alias("n_rem"))
        # materialized: the row reads this round's frames, which are
        # released below
        row, _ = barrier(
            None,
            n_hubs.crossJoin(n_rem)  # one-row × one-row chain
            .crossJoin(pick)
            .select(
                F.lit(r).cast("long").alias("round"),
                "hubs_removed",
                (F.col("n_rem") - F.col("gcc_size")).cast("long").alias(
                    "spokes_removed"
                ),
                "gcc_size",
            ),
        )
        out = row if out is None else out.unionAll(row)
        verts, _ = barrier(
            verts,
            comp.join(
                F.broadcast(pick.select(F.col("gcc_comp").alias("comp"))),
                "comp",
                "left_semi",
            ).select("id"),
        )
        edges, _ = barrier(
            edges,
            rem_e.join(verts.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(verts.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .select("src", "dst"),
        )
        release(comp)
        release(rem_v)
        release(rem_e)
    return out


def bond_percolation(
    graph: Graph,
    thresholds: tuple = ("40", "80", "c0"),
    seed: str = "bp",
) -> DataFrame:
    """Bond-percolation profile — one row per edge-retention level:
    (retain_hex, kept_edges, n_components, gcc_size).

    The EDGE-removal resilience curve complementing the vertex-removal
    profiles (``attack_tolerance`` slashes hubs, ``random_failure``
    vertices): each undirected edge survives iff the first hex byte of
    md5(a-b:seed) < threshold — '40'/'80'/'c0' ≈ 25/50/75% retention,
    deterministic and bit-replayed by the oracle (the DOULION coin
    pattern applied to connectivity instead of triangles). The GCC
    trajectory across levels locates the percolation transition — how
    much link loss the crawl graph absorbs before fragmenting.

    Per level: one filter + one WCC over the surviving edges (contract
    method at scale) + two aggregates. Isolated vertices count as
    singleton components (the physics convention).
    """
    from pyspark.sql import functions as F

    from incubator_hugegraph_computer_spark.graph import Graph as _Graph
    from incubator_hugegraph_computer_spark.operators.triangle_count import (
        undirected_edges,
    )
    from incubator_hugegraph_computer_spark.operators.wcc import wcc as _wcc

    und = undirected_edges(graph.edges).localCheckpoint(eager=True)
    coin = F.substring(
        F.md5(
            F.concat_ws(
                ":",
                F.concat_ws("-", F.col("a"), F.col("b")),
                F.lit(seed),
            )
        ),
        1,
        2,
    )
    out = None
    for thr in thresholds:
        kept = und.where(coin < F.lit(thr)).localCheckpoint(eager=True)
        comp = _wcc(
            _Graph(
                graph.vertices.select("id"),
                kept.select(F.col("a").alias("src"), F.col("b").alias("dst")),
                prepartitioned=True,
            ),
            count_messages=False,
        )
        sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("n"))
        row = (
            kept.agg(F.count(F.lit(1)).cast("long").alias("kept_edges"))
            .crossJoin(  # one-row × one-row aggregates stay in-plan
                sizes.agg(
                    F.count(F.lit(1)).cast("long").alias("n_components"),
                    F.coalesce(F.max("n"), F.lit(0)).cast("long").alias("gcc_size"),
                )
            )
            .select(
                F.lit(thr).alias("retain_hex"),
                "kept_edges",
                "n_components",
                "gcc_size",
            )
        )
        out = row if out is None else out.unionAll(row)
    return out
