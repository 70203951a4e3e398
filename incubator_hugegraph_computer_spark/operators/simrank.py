"""SimRank similarity — truncated sparse iteration.

Beyond-reference addition (SURVEY.md §2.10): the reference ships
neighbor-set Jaccard (``vermeer/algorithms/jaccard.go``) as its only
structural-similarity measure; SimRank is the recursive generalisation
("two objects are similar if referenced by similar objects",
Jeh & Widom, KDD'02) and the standard link-analysis companion to the
PageRank/HITS family already implemented here.

Semantics (exact truncated SimRank, k iterations, decay C):

    s_0(a, b) = 1 if a == b else 0
    s_{k+1}(a, b) = C / (|I(a)| |I(b)|) * sum_{i in I(a), j in I(b)} s_k(i, j)
    s_{k+1}(a, a) = 1

with I(v) the in-neighbor set; vertices with no in-neighbors keep
score 0 against everything (the Jeh-Widom convention).

Plan shape: the score matrix is kept SPARSE — a (a, b, score) frame
holding only non-zero pairs with a < b (scores are symmetric; the
diagonal is implicit). One iteration is two hash joins through the
edge list (pair side grows by out-degree fan-out on both ends) plus
one groupBy-sum, so every step is shuffle-on-key work Catalyst can
plan; there is no all-pairs materialization anywhere.

100 TB shape: exact all-pairs SimRank is inherently Omega(non-zero
pairs) — the published scale path is per-iteration truncation, keeping
the top-T partners per vertex (Lizorkin et al., VLDB'08 accuracy
bounds survive truncation). ``top_per_vertex`` applies exactly that
cap with a deterministic (score desc, partner asc) tie-break so runs
are reproducible; at the default None the iteration is exact and
SQL-replayable, which is what the oracle gates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans.lineage import barrier


def simrank(
    graph: Graph,
    k: int = 2,
    c: float = 0.8,
    top_per_vertex: int | None = None,
) -> DataFrame:
    """(a, b, score) for every non-zero SimRank pair with a < b after
    ``k`` truncated iterations (diagonal rows are implicit 1.0 and not
    emitted). ``top_per_vertex`` sparsifies between iterations for the
    at-scale variant; None keeps the iteration exact."""
    if k < 1:
        raise ValueError("simrank needs k >= 1 iterations")
    # SimRank is defined over neighbor SETS — dedupe once and use the
    # same deduped view for both the in-neighbor lists and the out-edge
    # propagation joins (an upstream multi-edge would otherwise multiply
    # contributions).
    dedup = graph.edges.select("src", "dst").distinct()
    in_edges = dedup.select(F.col("dst").alias("v"), F.col("src").alias("n"))
    in_deg = in_edges.groupBy("v").agg(F.count(F.lit(1)).alias("ideg"))

    # s_1 directly from s_0 = identity: only i == j terms survive, so
    # s_1(a,b) = C * |I(a) ∩ I(b)| / (|I(a)| |I(b)|) — one self-join on
    # the shared in-neighbor key instead of a pair-matrix pass.
    l, r = in_edges.alias("l"), in_edges.alias("r")
    pairs = (
        l.join(r, F.col("l.n") == F.col("r.n"))
        .where(F.col("l.v") < F.col("r.v"))
        .groupBy(F.col("l.v").alias("a"), F.col("r.v").alias("b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    s = (
        pairs.join(in_deg.select(F.col("v").alias("a"), F.col("ideg").alias("da")), "a")
        .join(in_deg.select(F.col("v").alias("b"), F.col("ideg").alias("db")), "b")
        .select(
            "a",
            "b",
            (F.lit(c) * F.col("common") / (F.col("da") * F.col("db"))).alias("score"),
        )
    )

    for _ in range(k - 1):
        s, _ = barrier(s, _truncate(s, top_per_vertex))
        # off-diagonal propagation: (i,j,s) -> every (a,b) with i∈I(a),
        # j∈I(b). s holds each unordered in-pair ONCE (i<j); the two
        # ordered terms s(i,j) + s(j,i) of the recursion surface as the
        # two join matches (na∈out(i), nb∈out(j)) and (na∈out(j),
        # nb∈out(i)) after least/greatest canonicalization — expanding s
        # to both orientations here would double-count every term.
        out_a = dedup.select(F.col("src").alias("i"), F.col("dst").alias("na"))
        out_b = dedup.select(F.col("src").alias("j"), F.col("dst").alias("nb"))
        cross = (
            s.join(out_a, s.a == out_a.i)
            .join(out_b, s.b == out_b.j)
            .where(F.col("na") != F.col("nb"))
            .select(
                F.least("na", "nb").alias("a"),
                F.greatest("na", "nb").alias("b"),
                "score",
            )
            .groupBy("a", "b")
            .agg(F.sum("score").alias("contrib"))
        )
        # diagonal contribution i == j (s_k(i,i) = 1): C * common/(da*db)
        # again — the identity part of s_k never decays.
        diag = pairs.select("a", "b", F.col("common").cast("double").alias("dcontrib"))
        s = (
            cross.join(diag, ["a", "b"], "full")
            .join(in_deg.select(F.col("v").alias("a"), F.col("ideg").alias("da")), "a")
            .join(in_deg.select(F.col("v").alias("b"), F.col("ideg").alias("db")), "b")
            .select(
                "a",
                "b",
                (
                    F.lit(c)
                    * (F.coalesce("contrib", F.lit(0.0)) + F.coalesce("dcontrib", F.lit(0.0)))
                    / (F.col("da") * F.col("db"))
                ).alias("score"),
            )
        )
    return _truncate(s, top_per_vertex)


def _truncate(s: DataFrame, top_per_vertex: int | None) -> DataFrame:
    """Keep each vertex's top-T partners (rounded-score desc, partner
    asc) — rank within BOTH endpoints so the kept set stays symmetric;
    a pair survives if either endpoint ranks it. Partitioned window
    over the vertex key — no single-partition stage.

    Declared semantics: the rank key is the score rounded to 6 dp
    (plus the module's 1e-9 boundary nudge), NOT the raw double —
    raw sums differ in the last ulp across engines, which would flip
    rank order between near-tied pairs; the rounded key is bit-stable
    in both Spark and the SQL oracle, and ties break on partner id."""
    if top_per_vertex is None:
        return s
    both = s.unionByName(
        s.select(F.col("b").alias("a"), F.col("a").alias("b"), "score")
    )
    rank_key = F.round(F.col("score") + F.lit(1e-9), 6)
    w = Window.partitionBy("a").orderBy(rank_key.desc(), F.col("b").asc())
    kept = (
        both.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= top_per_vertex)
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"), "score"
        )
        .groupBy("a", "b")
        .agg(F.max("score").alias("score"))
    )
    return kept
