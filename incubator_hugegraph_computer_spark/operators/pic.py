"""Power iteration clustering (PIC) embedding — Lin & Cohen 2010.

Not in the reference suite; the one-dimensional spectral-like
embedding that complements LPA/Louvain (which assign hard labels):
truncated power iteration on the row-normalized affinity matrix
W = D⁻¹A converges *locally* first — vertices in the same cluster
collapse to near-identical values long before global convergence, so
the t-step vector is a cluster-revealing embedding. Feed it to a 1-D
k-means (``functions/similarity.py:kmeans``) for hard labels; Spark
MLlib ships the same algorithm as ``PowerIterationClustering`` — this
is the DataFrame-native, oracle-replayable formulation.

Recurrence (replayed exactly by the unrolled SQL oracle):

    v_0(u)   = deg(u) / vol(G)                 (volume-normalized start)
    w_t(u)   = Σ_{u~x} v_t(x) / deg(u)         (one W·v message pass)
    v_{t+1}  = w_t / Σ_u w_t(u)                (L1 renormalization)

All quantities are positive, so the L1 norm is a plain SUM — the only
float freedom is summation order (same ULP class as PageRank's
cumulative-rank normalization, tolerated by the 6-dp round).

Scale: each iteration is ONE |E|-row join-aggregate (the PageRank
superstep shape) + a scalar aggregate kept in-plan as a one-row
broadcast; state is one double per vertex, lineage cut per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans.lineage import barrier


def pic_scores(graph: Graph, iterations: int = 6) -> DataFrame:
    """(id, pic) — the t-step PIC embedding value, rounded to 6 dp."""
    sym = graph.symmetrized().edges.select("src", "dst").localCheckpoint(eager=True)
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("d")
    )
    vol = deg.agg(F.sum("d").cast("double").alias("vol"))
    v = (
        deg.crossJoin(F.broadcast(vol))  # one-row scalar
        .select("id", "d", (F.col("d") / F.col("vol")).alias("x"))
        .localCheckpoint(eager=True)
    )
    for _ in range(iterations):
        w = (
            sym.join(
                v.select(F.col("id").alias("dst"), F.col("x").alias("nx")), "dst"
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("nx").alias("s"))
        )
        wd = v.select("id", "d").join(w, "id").select(
            "id", "d", (F.col("s") / F.col("d")).alias("x")
        )
        norm = wd.agg(F.sum("x").alias("n1"))
        v, _ = barrier(
            v,
            wd.crossJoin(F.broadcast(norm))  # one-row scalar
            .select("id", "d", (F.col("x") / F.col("n1")).alias("x")),
        )
    return v.select("id", F.round("x", 6).alias("pic"))
