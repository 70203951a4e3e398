"""Weisfeiler-Lehman color refinement (1-WL) over the undirected graph.

Not in the reference suite; the standard structural-role / graph-
fingerprint primitive that complements the reference's community
algorithms (LPA `computer-algorithm/.../community/lpa/Lpa.java` spreads
*labels* along edges; WL spreads *structure*): after k rounds two
vertices share a color iff their depth-k rooted neighborhood trees are
isomorphic. Used for role discovery, graph dedup fingerprints, and as
the expressiveness bound of message-passing GNNs.

Recurrence (both the Spark side and the DuckDB oracle replay it
bit-for-bit — md5 is portable and the neighbor multiset is serialized
in sorted order, so there is no float or ordering freedom):

    c_0(v)   = md5(str(deg(v)))
    c_t+1(v) = md5(c_t(v) || '|' || join(sort(multiset c_t(u) for u~v), ','))

Physical shape: one hash-join + groupBy per round on the symmetrized
edge list — the exact message-pass shuffle of the BSP loop
(`plans/bsp.py`), with map-side partial aggregation of the sorted
string build. State is one 32-char color per vertex; each round is
lineage-truncated with an eager localCheckpoint so the k-round plan
never re-derives round t-1 (same discipline as operators/wcc.py).
At 100 TB the per-round shuffle is |E| rows of (dst, 32B color) —
identical cost to one PageRank superstep; hub vertices concentrate
collect_list sizes, bounded by max-degree (cap upstream with
sparsify/local-similarity if hubs are unbounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.plans.lineage import barrier


def wl_refine(graph: Graph, rounds: int = 3) -> DataFrame:
    """(id, wl_color) after ``rounds`` refinement rounds; ``wl_color``
    is the 32-hex md5 class id. Isolated-vertex-safe (empty neighbor
    multiset serializes as '')."""
    sym = graph.symmetrized().edges.select("src", "dst").localCheckpoint(eager=True)
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    color = (
        graph.vertices.select("id")
        .join(deg, "id", "left")
        .select(
            "id",
            F.md5(F.coalesce(F.col("d"), F.lit(0)).cast("string")).alias("c"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(max(0, rounds)):
        nbr = (
            sym.join(
                color.select(F.col("id").alias("dst"), F.col("c").alias("nc")), "dst"
            )
            .groupBy(F.col("src").alias("id"))
            .agg(
                F.array_join(F.array_sort(F.collect_list("nc")), ",").alias("ns")
            )
        )
        color, _ = barrier(
            color,
            color.join(nbr, "id", "left").select(
                "id",
                F.md5(
                    F.concat(F.col("c"), F.lit("|"), F.coalesce("ns", F.lit("")))
                ).alias("c"),
            ),
        )
    return color.select("id", F.col("c").alias("wl_color"))


def wl_class_sizes(graph: Graph, rounds: int = 3) -> DataFrame:
    """(wl_color, class_size) histogram — the graph's depth-k structural
    fingerprint (two graphs with different histograms are 1-WL
    distinguishable)."""
    return (
        wl_refine(graph, rounds)
        .groupBy("wl_color")
        .agg(F.count(F.lit(1)).alias("class_size"))
    )
