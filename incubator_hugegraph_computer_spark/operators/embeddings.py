"""Node embeddings: node2vec walks -> skip-gram (Spark ML Word2Vec).

Beyond-reference addition (SURVEY.md §2.10): the reference ships the
walk generator (``vermeer/algorithms/random_walk.go``,
``RandomWalk.java`` — p/q biases implemented in operators/
random_walk.py) but stops at emitting walks; node2vec's second half —
training skip-gram over the walk corpus (Grover & Leskovec, KDD'16) —
is the step that turns the link graph into the dense vectors the
embedding suite (emb_* queries, functions/similarity.py) consumes.

Spark-first shape: walks are already an ``array<long>`` column; the
only transformation is long -> string tokens (Word2Vec's vocabulary
is string-keyed), then ``pyspark.ml.feature.Word2Vec`` — JVM-side
hierarchical-softmax skip-gram, distributed over walk partitions — and
a vector -> array<double> projection back onto vertex ids. No Python
in the hot path.

100 TB shape: walk generation is the dominant cost and is the existing
BSP-join path (E-row joins per hop); Word2Vec training is linear in
corpus size and Spark ML distributes it via ``numPartitions`` (model
sync per iteration — the standard parameter-averaging trade). The
model's vocabulary (V × dim floats) must fit on the driver — at 10^9+
vertices cap the vocabulary upstream (walk only the vertex subset of
interest) or shard training per component.

Determinism: seeded walks are deterministic (Efraimidis-Spirakis
draws, operators/random_walk.py); Word2Vec with a fixed seed and
numPartitions=1 is deterministic for a fixed corpus, which is what the
default targets. Training is not SQL-replayable, so the driver gates
this query rows-only (no oracle_sql entry) — documented contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.operators.random_walk import random_walk
from incubator_hugegraph_computer_spark.plans.lineage import barrier


def node2vec_embeddings(
    graph: Graph,
    dim: int = 16,
    walk_length: int = 8,
    walks_per_node: int = 2,
    return_factor: float = 1.0,
    inout_factor: float = 2.0,
    window: int = 4,
    max_iter: int = 1,
    seed: int = 42,
    num_partitions: int = 1,
) -> DataFrame:
    """(id: long, embedding: array<double>) — one row per vertex that
    appeared in at least one walk (isolated vertices have no corpus and
    therefore no vector, the Word2Vec convention)."""
    from pyspark.ml.feature import Word2Vec
    from pyspark.ml.functions import vector_to_array

    walks = random_walk(
        graph,
        walk_length=walk_length,
        walks_per_node=walks_per_node,
        seed=seed,
        return_factor=return_factor,
        inout_factor=inout_factor,
    )
    corpus = walks.select(
        F.transform(F.col("path"), lambda v: v.cast("string")).alias("sentence")
    )
    model = Word2Vec(
        vectorSize=dim,
        windowSize=window,
        minCount=1,
        maxIter=max_iter,
        seed=seed,
        numPartitions=num_partitions,
        inputCol="sentence",
        outputCol="vec",
    ).fit(corpus)
    return model.getVectors().select(
        F.col("word").cast("long").alias("id"),
        vector_to_array(F.col("vector")).alias("embedding"),
    )


def fastrp_embed(
    graph: Graph,
    dim: int = 8,
    iters: int = 3,
    seed: int = 42,
    weights: tuple = (1, 4, 16),
) -> DataFrame:
    """FastRP-style structural embeddings (Chen et al. 2019), exact-
    integer variant — (id, d, f) long-format, one row per vertex-dim.

    r0 = sparse random sign projection (md5-seeded: +1/-1 each w.p.
    1/6, else 0); r_t = A·r_{t-1} over the symmetrized adjacency
    (SUM aggregator, not mean); output = Σ_t weights[t-1]·r_t. Using
    the un-normalized sum aggregator with integer weights keeps every
    intermediate an exact int64, so the unrolled SQL oracle matches
    bit-for-bit with no float rounding anywhere — the degree
    normalization and final L2 step of the paper only rescale each
    vertex's vector, which downstream cosine similarity ignores.

    Scale: each iteration is ONE message-pass shuffle of |E|·dim rows
    (same join-aggregate as a PageRank superstep, dim-fold wider) with
    map-side combine; state is V·dim longs, lineage cut per round.
    This is the cheap embedding path vs node2vec (no walks, no ML fit)
    — the standard choice at 10¹²-edge scale.
    """
    from pyspark.sql import functions as F

    sym = graph.symmetrized().edges.select("src", "dst").localCheckpoint(eager=True)
    dims = F.array(*[F.lit(j).cast("long") for j in range(dim)])
    bucket = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("id").cast("string"),
                    F.col("d").cast("string"),
                    F.lit(str(seed)),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long") % 6
    state = (
        graph.vertices.select("id", F.explode(dims).alias("d"))
        .select(
            "id",
            "d",
            F.when(bucket == 0, F.lit(1))
            .when(bucket == 1, F.lit(-1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("x"),
        )
        .localCheckpoint(eager=True)
    )
    acc = None
    for t in range(min(iters, len(weights))):
        nxt = (
            sym.join(
                state.select(
                    F.col("id").alias("dst"), "d", F.col("x").alias("nx")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("id"), "d")
            .agg(F.sum("nx").cast("long").alias("x"))
        )
        # every state holds every (id, d) row: the left join keeps them
        state, _ = barrier(
            state,
            state.select("id", "d")
            .join(nxt, ["id", "d"], "left")
            .select("id", "d", F.coalesce("x", F.lit(0)).cast("long").alias("x")),
        )
        w = int(weights[t])
        term = state.select("id", "d", (F.col("x") * F.lit(w)).alias("wx"))
        # materialized every round: the term reads ``state``, which the
        # next round's barrier releases
        acc, _ = barrier(
            acc,
            term
            if acc is None
            else acc.join(term.withColumnRenamed("wx", "wx2"), ["id", "d"]).select(
                "id", "d", (F.col("wx") + F.col("wx2")).alias("wx")
            ),
        )
    return acc.select("id", "d", F.col("wx").cast("long").alias("f"))


def sage_sample(
    graph: Graph,
    seeds: DataFrame,
    fanouts: tuple = (5, 3),
    seed: int = 42,
) -> DataFrame:
    """(layer, src, dst) — deterministic GraphSAGE neighbor sampling:
    layer L keeps at most ``fanouts[L-1]`` out-neighbors per frontier
    vertex, ranked by md5(src:dst:L:seed) with id tie-break — the
    minibatch-subgraph builder for GNN training over the link graph
    (Hamilton et al. NeurIPS'17), made md5-deterministic so the same
    sample reproduces on any engine (and the oracle replays it).

    ``seeds``: one-column (id) frame. Scale: per layer one join of the
    frontier against the (pre-partitioned) adjacency + a PER-VERTEX
    ranked window (partitioned by src — never global); frontier growth
    is bounded by Π fanouts · |seeds| regardless of hub degrees, which
    is the entire point of sampled aggregation at 10¹²-edge scale.
    """
    from pyspark.sql import Window, functions as F

    e = graph.edges.select("src", "dst").localCheckpoint(eager=True)
    frontier = seeds.select(F.col(seeds.columns[0]).alias("id")).distinct()
    out = None
    for layer, fanout in enumerate(fanouts, start=1):
        coin = F.md5(
            F.concat_ws(
                ":",
                F.col("src").cast("string"),
                F.col("dst").cast("string"),
                F.lit(str(layer)),
                F.lit(str(seed)),
            )
        )
        cand = e.join(frontier.withColumnRenamed("id", "src"), "src").select(
            "src", "dst", coin.alias("r")
        )
        w = Window.partitionBy("src").orderBy(F.asc("r"), F.asc("dst"))
        samp, _ = barrier(
            None,
            cand.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= fanout)
            .select(F.lit(layer).cast("long").alias("layer"), "src", "dst"),
        )
        out = samp if out is None else out.unionAll(samp)
        frontier = samp.select(F.col("dst").alias("id")).distinct()
    return out
