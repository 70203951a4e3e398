"""Neighborhood function N(v, h) — exact and HyperANF-style sketched.

Beyond-reference addition (SURVEY.md §2.10): the reference ships only
a depth *sketch* statistic (``vermeer/algorithms/statistics.go``,
sketch_depth). The neighborhood function — |{u : d(v,u) ≤ h}| for
every v and h = 1..H — is the primitive behind effective-diameter and
average-distance estimation (Palmer et al. ANF, KDD'02; Boldi & Vigna
HyperANF, WWW'11).

Two physical strategies:

- ``exact=True``: the shared ``multi_source_bfs`` kernel (state =
  O(reached pairs)) then one conditional-sum pivot per horizon. Exact,
  oracle-checkable, and the right choice up to ~10⁷ pairs.
- ``exact=False``: HyperANF — per-vertex HyperLogLog sketches
  (Spark's built-in DataSketches ``hll_sketch_agg`` /
  ``hll_union_agg``), one join + one groupBy per hop. State is
  O(V · sketch bytes) REGARDLESS of reachability — this is the 100 TB
  path: h supersteps, each a single E-row shuffle, no pair blowup.

Direction follows ``graph.edges`` — pass ``graph.symmetrized()`` for
the undirected ball.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.operators.closeness import multi_source_bfs
from incubator_hugegraph_computer_spark.plans.lineage import barrier


def neighborhood_function(
    graph: Graph,
    max_h: int = 3,
    exact: bool = True,
    lg_config_k: int = 12,
) -> DataFrame:
    """(id, n1, ..., n{max_h}) — #distinct vertices within ≤h hops,
    excluding the vertex itself. Exact: long counts. Sketched: double
    estimates (HLL standard error ≈ 1.04/√2^lg_config_k ≈ 1.6% at the
    default lg_config_k=12)."""
    if exact:
        visited = multi_source_bfs(graph, graph.vertices.select("id"), max_depth=max_h)
        aggs = [
            F.sum(((F.col("dist") > 0) & (F.col("dist") <= h)).cast("long")).alias(f"n{h}")
            for h in range(1, max_h + 1)
        ]
        return visited.groupBy(F.col("source").alias("id")).agg(*aggs)

    # HyperANF: ball(v, k) = {v} ∪ ⋃_{(v,w)∈E} ball(w, k-1), carried as
    # an HLL sketch per vertex; each hop = one shuffle join + one union-agg.
    # Every hop's state stays stored: the output's lazy joins read them all.
    state, _ = barrier(
        None,
        graph.vertices.groupBy("id").agg(
            F.hll_sketch_agg("id", F.lit(lg_config_k)).alias("sk")
        ),
    )
    out = graph.vertices.select("id")
    edges = graph.edges.select("src", "dst")
    for h in range(1, max_h + 1):
        msgs = edges.join(state, edges.dst == state.id).select(
            F.col("src").alias("id"), "sk"
        )
        state, _ = barrier(
            None,
            state.unionAll(msgs).groupBy("id").agg(F.hll_union_agg("sk").alias("sk")),
        )
        est = state.select(
            "id",
            (F.hll_sketch_estimate("sk") - F.lit(1.0)).alias(f"n{h}"),
        )
        out = out.join(est, "id")
    return out


def effective_diameter(
    nf: DataFrame, max_h: int = 3, quantile: float = 0.9
) -> DataFrame:
    """One-row (eff_diameter, avg_reach_h{max_h}) from a neighborhood-
    function table: the smallest h whose mean ball size reaches
    ``quantile`` × the mean ball size at max_h (integer-h variant of the
    standard interpolated estimator)."""
    means = nf.agg(
        *[F.avg(f"n{h}").alias(f"m{h}") for h in range(1, max_h + 1)]
    )
    target = F.col(f"m{max_h}") * quantile
    eff = F.lit(max_h)
    for h in range(max_h - 1, 0, -1):
        eff = F.when(F.col(f"m{h}") >= target, F.lit(h)).otherwise(eff)
    return means.select(
        eff.alias("eff_diameter"), F.col(f"m{max_h}").alias("avg_reach")
    )


def hyperball_reach(
    graph: Graph,
    hops: int = 4,
    registers: int = 16,
    seed: str = "anf",
) -> DataFrame:
    """HyperBall (Boldi-Vigna) with PORTABLE md5 registers —
    (id, reach_est) ≈ |{u : d(id → u) ≤ hops}| (self included).

    The ``neighborhood_function(exact=False)`` path uses Spark's
    DataSketches HLL, whose register layout no other engine
    reproduces; this variant derives every register from md5 (idx =
    first hex byte mod m, ρ = leading-zeros+1 of the next 32 hash
    bits), so the DuckDB oracle replays the REGISTERS bit-for-bit and
    the estimate to float-sum noise — the same cell-exact contract as
    the count-min sketch (``functions/sketches.py``).

    State is long-format (id, j, m): V·m rows of small ints; per hop
    one |E| join + MAX combine per register — the PageRank superstep
    plan, m-fold wider, with NO dependence on reachability-set size
    (the property that makes HyperBall the 10¹²-vertex diameter tool;
    exact ANF state grows with reached PAIRS). Estimate = raw HLL
    E = α_m·m²/Σ 2^(-M_j) — small-range correction deliberately
    omitted (declared estimator semantics, replayed by the oracle;
    at web scale the raw regime is the operating point anyway).
    """
    from pyspark.sql import functions as F

    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(registers, 0.7213 / (1 + 1.079 / registers))
    e = graph.edges.select("src", "dst").localCheckpoint(eager=True)
    hexcol = F.md5(F.concat_ws(":", F.col("id").cast("string"), F.lit(seed)))
    x = F.conv(F.substring(hexcol, 3, 8), 16, 10).cast("long")
    own = graph.vertices.select(
        "id",
        (F.conv(F.substring(hexcol, 1, 2), 16, 10).cast("long") % registers).alias(
            "j"
        ),
        F.when(x == 0, F.lit(33))
        .otherwise(F.lit(33) - F.length(F.bin(x)))
        .cast("long")
        .alias("m"),
    )
    # dense register space: every (id, j) exists with m >= 0 so the
    # final sum runs over exactly `registers` terms per vertex
    regs = F.array(*[F.lit(j).cast("long") for j in range(registers)])
    state = (
        graph.vertices.select("id", F.explode(regs).alias("j"))
        .join(own, ["id", "j"], "left")
        .select("id", "j", F.coalesce("m", F.lit(0)).cast("long").alias("m"))
        .localCheckpoint(eager=True)
    )
    for _ in range(hops):
        msg = (
            e.join(state.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"), "j")
            .agg(F.max("m").alias("m"))
        )
        state, _ = barrier(
            state,
            state.union(msg)
            .groupBy("id", "j")
            .agg(F.max("m").cast("long").alias("m")),
        )
    return (
        state.groupBy("id")
        .agg(F.sum(F.pow(F.lit(2.0), -F.col("m"))).alias("z"))
        .select(
            "id",
            F.round(
                F.lit(alpha) * F.lit(float(registers * registers)) / F.col("z"), 6
            ).alias("reach_est"),
        )
    )


def hyperball_harmonic(
    graph: Graph,
    hops: int = 4,
    registers: int = 16,
    seed: str = "anf",
) -> DataFrame:
    """(id, harmonic_est) — HyperBall harmonic centrality (Boldi-Vigna
    "In-Core Computation of Geometric Centralities with HyperBall",
    ICDMW'13): harmonic(v) ≈ Σ_h (|B(v,h)| − |B(v,h−1)|)/h with ball
    sizes read from the SAME portable md5 HLL registers as
    ``hyperball_reach``.

    This is the centrality path that scales where the exact seeded
    protocol (``operators/closeness.py``, state O(V·sources)) cannot:
    O(V·registers) state total, ALL vertices at once, h supersteps.
    The per-hop ball-size deltas come from one extra aggregate per hop
    over state the loop already maintains. Direction: out-balls over
    ``graph.edges`` (pass ``graph.symmetrized()`` for undirected).

    Raw-HLL estimator semantics as everywhere (no small-range
    correction); the h=0 baseline is the one-element raw estimate, so
    deltas are exactly what the registers say — replayed bit-for-bit
    by the oracle.
    """
    from pyspark.sql import functions as F

    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(
        registers, 0.7213 / (1 + 1.079 / registers)
    )
    e = graph.edges.select("src", "dst").localCheckpoint(eager=True)
    hexcol = F.md5(F.concat_ws(":", F.col("id").cast("string"), F.lit(seed)))
    x = F.conv(F.substring(hexcol, 3, 8), 16, 10).cast("long")
    own = graph.vertices.select(
        "id",
        (F.conv(F.substring(hexcol, 1, 2), 16, 10).cast("long") % registers).alias(
            "j"
        ),
        F.when(x == 0, F.lit(33))
        .otherwise(F.lit(33) - F.length(F.bin(x)))
        .cast("long")
        .alias("m"),
    )
    regs = F.array(*[F.lit(j).cast("long") for j in range(registers)])
    state = (
        graph.vertices.select("id", F.explode(regs).alias("j"))
        .join(own, ["id", "j"], "left")
        .select("id", "j", F.coalesce("m", F.lit(0)).cast("long").alias("m"))
        .localCheckpoint(eager=True)
    )

    def est(s):
        return s.groupBy("id").agg(
            (
                F.lit(alpha)
                * F.lit(float(registers * registers))
                / F.sum(F.pow(F.lit(2.0), -F.col("m")))
            ).alias("est")
        )

    # materialized: the first hop's barrier releases the initial state
    acc, _ = barrier(
        None, est(state).select("id", F.col("est").alias("prev"), F.lit(0.0).alias("h"))
    )
    for hop in range(1, hops + 1):
        msg = (
            e.join(state.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"), "j")
            .agg(F.max("m").alias("m"))
        )
        state, _ = barrier(
            state,
            state.union(msg)
            .groupBy("id", "j")
            .agg(F.max("m").cast("long").alias("m")),
        )
        acc, _ = barrier(
            acc,
            acc.join(est(state), "id").select(
                "id",
                F.col("est").alias("prev"),
                (F.col("h") + (F.col("est") - F.col("prev")) / F.lit(float(hop))).alias(
                    "h"
                ),
            ),
        )
    return acc.select("id", F.round("h", 6).alias("harmonic_est"))
