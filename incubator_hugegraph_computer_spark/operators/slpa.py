"""SLPA — speaker-listener label propagation (overlapping communities).

Reference: ``vermeer/algorithms/slpa.go`` (251 LoC, Go): every vertex
keeps a label *memory*; each round every neighbor speaks one label
drawn from its memory with probability proportional to frequency, the
listener adopts the most frequent label heard and appends it to its own
memory; after T rounds a vertex belongs to every community whose label
holds ≥ ``r`` of its memory.

Spark formulation (deterministic): the speaker's weighted draw uses a
seeded xxhash64 uniform per (edge, round) instead of ``rand()`` —
reproducible across runs and partitionings.

Physical shape (scale-deliberate): memory is aggregated ONCE per round
into a per-vertex sorted array with cumulative counts (groupBy over
O(V·round) rows), then each edge's draw is a pure JVM higher-order-
function lookup against the speaker's packed array — inverse-CDF
sampling with NO per-edge window (the naive formulation windows over
E·memory rows twice per round; this does one V-row groupBy + one E-row
join). Memory arrays are tiny (≤ round+1 entries), so the O(k²) HOF
cumsum inside a row is negligible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans.lineage import barrier


def slpa(
    graph: Graph,
    rounds: int = 5,
    threshold: float = 0.3,
    seed: int = 42,
) -> DataFrame:
    """(id, label) — one row per (vertex, retained community label);
    vertices can appear in multiple communities (the overlap)."""
    sym = graph.symmetrized().edges.persist()
    # memory as (id, label, cnt) long rows — simpler to fold than a map
    mem, _ = barrier(
        None,
        graph.vertices.select(
            "id", F.col("id").alias("label"), F.lit(1).cast("long").alias("cnt")
        ),
    )

    for rnd in range(1, rounds + 1):
        # pack each speaker's memory: label-sorted structs + cumulative
        # counts (running sum via HOF — arrays are <= rnd+1 entries)
        packed = (
            mem.groupBy("id")
            .agg(F.sort_array(F.collect_list(F.struct("label", "cnt"))).alias("m"))
            .withColumn(
                "cums",
                F.expr(
                    "transform(sequence(1, size(m)), "
                    "i -> aggregate(slice(m, 1, i), CAST(0 AS LONG), (a, y) -> a + y.cnt))"
                ),
            )
            .withColumn("tot", F.element_at("cums", F.size("cums")))
        )
        speaker = packed.withColumnRenamed("id", "src")
        # weighted draw per edge: u = hash(seed, rnd, src, dst) in [0,1);
        # pick the first label (label order) whose cumulative count
        # exceeds u * total — exact inverse-CDF, fully deterministic,
        # all whole-stage-codegen expressions.
        cand = sym.join(speaker.hint("shuffle_hash"), "src")
        drawn = (
            cand.withColumn(
                "u",
                (F.abs(F.xxhash64(F.lit(seed), F.lit(rnd), "src", "dst")) % 1_000_000)
                / 1_000_000.0,
            )
            .withColumn(
                "pick",
                F.expr("filter(sequence(1, size(m)), i -> cums[i-1] > u * tot)[0]"),
            )
            .select(F.col("dst").alias("id"), F.expr("m[pick-1].label").alias("label"))
        )
        # listener: most frequent heard label, min-label tie-break —
        # argmax folded into one aggregation tree (no window), the same
        # min(struct(-cnt, label)) trick as LPA
        adopted = (
            drawn.groupBy("id", "label")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("id")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("label").alias("l"))).alias("b"))
            .select("id", F.col("b.l").alias("label"), F.lit(1).cast("long").alias("cnt"))
        )
        mem, _ = barrier(
            mem,
            mem.unionAll(adopted)
            .groupBy("id", "label")
            .agg(F.sum("cnt").alias("cnt")),
        )

    # mem is checkpointed, so the cached symmetrized edges are no longer
    # reachable from the result plan — release them (repeated slpa()
    # calls would otherwise each leak a cached edge set)
    sym.unpersist()

    # Retain labels holding >= threshold of the memory, but never leave a
    # vertex label-less: the argmax label(s) are always kept (Vermeer's
    # post-processing is a top-k selection that likewise guarantees >= 1
    # label per vertex — slpa.go:209-220).
    w_id = Window.partitionBy("id")
    return (
        mem.withColumn("tot", F.sum("cnt").over(w_id))
        .withColumn("mx", F.max("cnt").over(w_id))
        .where(
            (F.col("cnt") >= F.col("tot") * F.lit(threshold))
            | (F.col("cnt") == F.col("mx"))
        )
        .select("id", "label")
    )
